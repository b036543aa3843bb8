"""Text-analysis operators for training-data pipelines.

All built-in column expressions (JVM-side, whole-stage codegen): at
100 TB these run as a single projection over the scan with no shuffle.

Operators:
- token stats (whitespace tokenization + counts)
- quality scoring (length / punctuation / stopword ratios)
- language ID (stopword-hit heuristic over a few languages)
- document fingerprinting (md5 content hash + xxhash64 rolling variant)
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spaceparts_data_pipeline_spark.operators.lineage import scale_share, stage_cut

PUNCT_PATTERN = r"[.,!?;:]"

STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "en", "los"),
    "de": ("der", "die", "und", "das", "ein", "zu", "ist"),
    "fr": ("le", "les", "et", "des", "un", "une", "dans"),
}


def _word_pattern(words: tuple[str, ...]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def token_count(text: Column | str) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    t = F.trim(F.col(text) if isinstance(text, str) else text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def stopword_hits(text: Column | str, lang: str = "en") -> Column:
    """Count of stopword occurrences (word-boundary matches, lowercased)."""
    t = F.lower(F.col(text) if isinstance(text, str) else text)
    return F.regexp_count(t, F.lit(_word_pattern(STOPWORDS[lang])))


def punct_count(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(t, F.lit(PUNCT_PATTERN))


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append n_tokens / n_chars_computed columns."""
    return df.withColumn("n_tokens", token_count(text_col)).withColumn(
        "n_chars_computed", F.length(text_col)
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append punctuation/stopword ratios and a boolean quality gate
    (the standard cheap pre-filters of LLM data pipelines)."""
    n_tokens = token_count(text_col)
    n_chars = F.length(text_col)
    punct = punct_count(text_col).cast("long")
    stops = stopword_hits(text_col, "en").cast("long")
    return (
        df.withColumn("punct_cnt", punct)
        .withColumn("stopword_cnt", stops)
        .withColumn("punct_ratio", punct / F.greatest(n_chars.cast("long"), F.lit(1)))
        .withColumn("stopword_ratio", stops / F.greatest(n_tokens.cast("long"), F.lit(1)))
        .withColumn(
            "is_quality",
            (n_tokens >= 20) & (n_tokens <= 5000) & (stops > 0),
        )
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: stopword-hit argmax over the known sets;
    ties (including all-zero) → 'und'."""
    t = F.lower(F.col(text_col))
    hits = {lang: F.regexp_count(t, F.lit(_word_pattern(words))).cast("long") for lang, words in STOPWORDS.items()}
    out = df
    for lang, h in hits.items():
        out = out.withColumn(f"{lang}_hits", h)
    en, es, de, fr = (F.col(f"{l}_hits") for l in ("en", "es", "de", "fr"))
    predicted = (
        F.when((en > es) & (en > de) & (en > fr), F.lit("en"))
        .when((es > en) & (es > de) & (es > fr), F.lit("es"))
        .when((de > en) & (de > es) & (de > fr), F.lit("de"))
        .when((fr > en) & (fr > es) & (fr > de), F.lit("fr"))
        .otherwise(F.lit("und"))
    )
    return out.withColumn("predicted_lang", predicted)


#: Gopher's stop-word presence list (Rae et al. 2021, app. A1.1) — the
#: rule requires ≥2 DISTINCT hits, unlike the frequency-style "en" set.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Gopher-rule document quality filter (Rae et al. 2021, app. A1.1):
    per-rule measures plus the combined ``gopher_pass`` gate —

    - word count in [50, 100 000]
    - mean word length in [3, 10]
    - symbol-to-word ratio ('#'/'…') < 0.1
    - < 90 % of lines start with a bullet, < 30 % end with an ellipsis
    - > 80 % of words contain an alphabetic character
    - ≥ 2 distinct stop words present

    All JVM-side expressions (one projection over the scan, no shuffle);
    every regex stays inside the Java∩RE2 subset (no lookarounds, no
    backreferences) so the DuckDB oracle replays the rules exactly.
    Ratios divide the raw integer counts — IEEE division of identical
    integers is bit-identical across engines, so the pass flag compares
    doubles without a rounding fence.
    """
    m = _gopher_measures(text_col)
    return df.select(
        F.col(id_col), m["n_words"].alias("n_words"),
        m["mean_word_len"].alias("mean_word_len"),
        m["symbol_word_ratio"].alias("symbol_word_ratio"),
        m["bullet_line_frac"].alias("bullet_line_frac"),
        m["ellipsis_line_frac"].alias("ellipsis_line_frac"),
        m["alpha_word_frac"].alias("alpha_word_frac"),
        m["n_stop_distinct"].alias("n_stop_distinct"),
        m["gopher_pass"].alias("gopher_pass"),
    )


def _gopher_measures(text_col: Column | str) -> dict[str, Column]:
    """The Gopher rule measures as named column expressions — shared by
    the d17 profile query and the funnel's ``quality_rules='gopher'``
    gate so the two can never drift."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    n_words = token_count(t).cast("long")
    w1 = F.greatest(n_words, F.lit(1))
    nonspace = F.length(F.regexp_replace(t, r"\s+", "")).cast("long")
    mean_wl = nonspace / w1
    # the ASCII three-dot ellipsis counts as ONE symbol, like the
    # Unicode '…' (the ellipsis-line rule below already treats the two
    # as equivalent; counting only '…' here let '...'-heavy docs pass
    # a gate the paper's rule would fail)
    sym_ratio = F.regexp_count(t, F.lit(r"(\.\.\.|[#…])")).cast("long") / w1
    # one synthetic leading separator so the first word is countable
    # without lookbehind; \S* cannot cross whitespace, so each word
    # yields at most one match
    alpha_words = F.regexp_count(
        F.concat(F.lit(" "), t), F.lit(r"\s+\S*[A-Za-z]")).cast("long")
    alpha_frac = alpha_words / w1
    lines = F.split(t, "\n")
    n_lines = F.greatest(F.size(lines).cast("long"), F.lit(1))
    bullet_frac = (
        F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]"))).cast("long") / n_lines)
    ellipsis_frac = (
        F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))).cast("long") / n_lines)
    low = F.lower(t)
    n_stop = reduce(
        lambda a, b: a + b,
        [F.when(low.rlike(rf"\b{w}\b"), F.lit(1)).otherwise(F.lit(0))
         for w in GOPHER_STOPWORDS],
    ).cast("long")
    gate = (
        (n_words >= 50) & (n_words <= 100_000)
        & (mean_wl >= 3) & (mean_wl <= 10)
        & (sym_ratio < 0.1)
        & (bullet_frac < 0.9) & (ellipsis_frac < 0.3)
        & (alpha_frac > 0.8)
        & (n_stop >= 2)
    )
    return {
        "n_words": n_words, "mean_word_len": mean_wl,
        "symbol_word_ratio": sym_ratio, "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac, "alpha_word_frac": alpha_frac,
        "n_stop_distinct": n_stop, "gopher_pass": gate,
    }


def gopher_gate(text_col: Column | str) -> Column:
    """Boolean column: the combined Gopher gate (see gopher_quality)."""
    return _gopher_measures(text_col)["gopher_pass"]


def c4_line_filter(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """C4-style line/document cleanup (Raffel et al. 2020 §2.2): keep
    only lines that end in terminal punctuation and hold ≥ 5 words;
    drop whole documents containing ``{`` (code) or "lorem ipsum", or
    retaining < 3 lines. Output is the CLEANED text plus the kept-line
    count — a transformation, not just a flag, so downstream stages see
    the filtered corpus.

    Pure array lambdas over one projection — the per-doc line scan
    never leaves the JVM and nothing shuffles; at 100 TB this is
    scan-bound like every other gate in the funnel.
    """
    t = F.col(text_col)
    kept = c4_kept_lines(t)
    out = df.select(
        F.col(id_col),
        F.size(kept).cast("long").alias("n_lines_kept"),
        F.array_join(kept, "\n").alias("clean_text"),
        c4_doc_ok(t).alias("__doc_ok"),
    )
    return (
        out.filter(F.col("__doc_ok") & (F.col("n_lines_kept") >= 3))
        .drop("__doc_ok")
    )


def c4_kept_lines(text_col: Column | str) -> Column:
    """Array column: the lines C4's line gate keeps (terminal
    punctuation, non-blank, ≥5 words) — shared by the d18 query and
    the funnel's ``quality_rules='c4'`` stage."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(
        F.split(t, "\n"),
        lambda x: x.rlike('[.!?"]\\s*$')
        & (F.length(F.trim(x)) > 0)
        & (F.size(F.split(F.trim(x), r"\s+")) >= 5),
    )


def c4_doc_ok(text_col: Column | str) -> Column:
    """Boolean column: C4's document-level gates (no code-brace, no
    lorem ipsum) — the ≥3-kept-lines gate composes with c4_kept_lines."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    return ~F.lower(t).contains("lorem ipsum") & ~t.contains("{")


def hash_bucket(col: Column | str, buckets: int = 100) -> Column:
    """Deterministic, engine-portable hash bucket: first 8 hex chars of
    md5 → int → mod. Used for reproducible train/val/test splits that
    are stable across engines, runs, and partitionings (unlike
    ``sample``/``rand``)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("bigint")
    return h % buckets


def deterministic_split(df: DataFrame, id_col: str, train_pct: int = 90) -> DataFrame:
    """Append a ``split`` column ('train'/'val') by hash bucket of the id."""
    b = hash_bucket(id_col)
    return df.withColumn("split", F.when(b < train_pct, F.lit("train")).otherwise(F.lit("val")))


def fingerprint_md5(text: Column | str) -> Column:
    """Stable content fingerprint (hex md5)."""
    return F.md5(F.col(text) if isinstance(text, str) else text)


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_frac_threshold: float = 0.2,
) -> DataFrame:
    """Within-document repetition profile (the Gopher-rule family of
    quality filters): total/distinct token counts, duplicate-token
    fraction, top-token frequency fraction, and an ``is_repetitive``
    flag when one token dominates.

    Shape chosen for corpus scale: explode → count per (doc, token) →
    combine per doc. Both aggregations are map-side combinable and the
    shuffle key is (doc_id, token) then doc_id — never full text. The
    per-doc cost is linear in tokens (an expression-only variant that
    counts each distinct token with array lambdas would be quadratic
    per document — wrong for real documents).
    """
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != "")
    exploded = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    per_tok = exploded.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = per_tok.groupBy(id_col).agg(
        F.sum("cnt").alias("total_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.max("cnt").alias("__top"),
    )
    has = F.col("total_tokens") > 0
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("total_tokens", F.lit(0)).alias("total_tokens"),
            F.coalesce("distinct_tokens", F.lit(0)).alias("distinct_tokens"),
            F.when(has, F.lit(1.0) - F.col("distinct_tokens").cast("double")
                   / F.col("total_tokens").cast("double")).alias("dup_token_frac"),
            F.when(has, F.col("__top").cast("double")
                   / F.col("total_tokens").cast("double")).alias("top_token_frac"),
            F.coalesce(
                F.col("__top").cast("double") / F.col("total_tokens").cast("double")
                > top_frac_threshold,
                F.lit(False),
            ).alias("is_repetitive"),
        )
    )


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates: dict[str, int],
    default_rate: int = 100,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row when its id's
    md5 hash bucket (0-99) is below the stratum's percentage rate. The
    classic corpus-rebalance op (e.g. cap the dominant language) —
    reproducible across engines, runs, and partitionings, unlike
    ``DataFrame.sampleBy``; pure narrow ops, no shuffle.
    """
    rate = F.lit(default_rate)
    for value, pct in rates.items():
        rate = F.when(F.col(stratum_col) == value, F.lit(pct)).otherwise(rate)
    return df.filter(hash_bucket(id_col) < rate)


def fingerprint_rolling(text: Column | str, window: int = 8) -> Column:
    """Rolling-hash style fingerprint: min xxhash64 over character
    ``window``-grams — a cheap locality-sensitive document signature.
    (xxhash64 is Spark-native; no SQL oracle twin.)
    """
    t = F.col(text) if isinstance(text, str) else text
    n = F.greatest(F.length(t) - window + 1, F.lit(1))
    grams = F.transform(F.sequence(F.lit(1), n), lambda i: F.xxhash64(t.substr(i, F.lit(window))))
    return F.array_min(grams)


def sequence_packing(
    df: DataFrame,
    capacity: int,
    shard_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Concat-and-chunk sequence packing: within each shard, documents
    in id order are conceptually concatenated token-by-token and cut
    into fixed-``capacity`` training sequences (the GPT-style pretrain
    shaping — documents straddle sequence boundaries; nothing is padded
    or dropped). Output per non-empty doc: its shard-local placement
    (start_seq, start_offset, end_seq, n_tokens) — what a loader needs
    to materialize any given sequence.

    One running-sum window per shard is the whole computation.
    Sequences never cross shards, so the window partitions by
    ``shard_col`` and DISTRIBUTES — the global-order variant (one giant
    window partition) is exactly the scale bug to avoid at 100 TB;
    shard by source/date/bucket so one shard fits one task.

    ``keep_cols``: extra columns carried through unchanged (e.g. the
    original doc id when packing over a shuffled (shard, position)
    order — see ``corpus_shuffle``).
    """
    from pyspark.sql import Window

    # token_count's empty-string guard, not bare size(split(...)):
    # split('') == [''] so a blank doc counted as ONE token, survived
    # the n_tokens>0 filter, and shifted every later doc's packed
    # placement in the shard by a phantom token
    n_tok = token_count(F.col(text_col)).cast("long")
    w = (
        Window.partitionBy(shard_col).orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    extras = [F.col(c) for c in keep_cols]
    out = (
        df.select(F.col(id_col), F.col(shard_col), n_tok.alias("n_tokens"), *extras)
        .filter(F.col("n_tokens") > 0)
        .withColumn("__cum", F.sum("n_tokens").over(w))
    )
    start = F.col("__cum") - F.col("n_tokens")
    return out.select(
        id_col, shard_col, "n_tokens", *keep_cols,
        F.floor(start / capacity).alias("start_seq"),
        (start % capacity).alias("start_offset"),
        F.floor((F.col("__cum") - 1) / capacity).alias("end_seq"),
    )


def token_budget_mix(
    df: DataFrame,
    default_budget: int,
    budgets: dict[str, int] | None = None,
    shard_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_subshards: int = 32,
) -> DataFrame:
    """Data-mixture selection under per-source TOKEN budgets (the
    pretrain "mixing weights" op: cap each source's contribution —
    e.g. upsample curated sources, cap web crawl — by token count, not
    doc count). Within each ``shard_col`` value, documents are taken
    in ``id_col`` order until the source's budget is exhausted: a doc
    is kept iff the running token sum through it stays ≤ the budget
    (the doc that would cross the line is dropped, as is everything
    after it). Deterministic across engines, runs, and partitionings —
    no sampling, no rand().

    Output: (id, shard, n_tokens, cum_tokens) for every selected doc.

    TWO-PHASE plan: ``shard_col`` has a handful of values (sources),
    so a single running-sum window partitioned on it would sort each
    entire source on ONE reducer — at 100 TB the web-crawl source is
    most of the corpus on a single task. Instead the id range of each
    source is cut into ``n_subshards`` order-aligned sub-shards
    (monotone in ``id_col``, so sub-shard k's ids all precede k+1's):

      1. per-(source, sub-shard) partial token sums — map-side
         combinable, shuffles one row per (source, sub);
      2. exclusive prefix offsets over that TINY partials frame,
         broadcast back;
      3. sub-shards whose offset already exceeds the budget are
         pruned wholesale (at 100 TB with a small budget this drops
         nearly everything before the sort);
      4. per-(source, sub-shard) running-sum windows + offset — the
         only big-data exchange, now n_subshards× wider than the
         naive plan.

    Long-integer sums are associative, so the result is bit-identical
    to the one-window formulation (and to the SQL oracle). Requires a
    numeric, totally-ordered ``id_col``.

    NULL handling is EXPLICIT so both formulations agree row-for-row:
    NULL text counts 0 tokens (``coalesce``, matching the oracle's
    ``COALESCE(..., 0)``) — a running SUM that skipped NULLs would keep
    the doc while ``offset + NULL`` dropped it; a NULL ``shard_col`` is
    its own group under the DEFAULT budget (null-safe joins, matching
    the window/GROUP BY treatment of NULL keys); and the sub-shard
    prune is ``offset <= budget`` so zero-token docs sitting exactly on
    the budget line survive, as they do under ``cum <= budget``.
    """
    from pyspark.sql import Window

    budget = F.lit(default_budget)
    for value, b in (budgets or {}).items():
        budget = F.when(F.col(shard_col) == value, F.lit(b)).otherwise(budget)
    n_tok = F.coalesce(token_count(text_col).cast("long"), F.lit(0))
    toks = df.select(F.col(id_col), F.col(shard_col), n_tok.alias("n_tokens"))

    # Order-aligned sub-shard: min-max scale the id within its source.
    # floor is monotone in id, so sub-shard order == id order.
    bounds = toks.groupBy(shard_col).agg(
        F.min(id_col).alias("__lo"), F.max(id_col).alias("__hi"),
    ).withColumnRenamed(shard_col, "__bshard")
    span = (F.col("__hi") - F.col("__lo") + 1).cast("double")
    sub = F.least(
        F.lit(n_subshards - 1),
        F.floor((F.col(id_col) - F.col("__lo")).cast("double")
                * n_subshards / span),
    ).cast("int")
    sharded = (
        toks.join(F.broadcast(bounds),
                  F.col(shard_col).eqNullSafe(F.col("__bshard")))
        .withColumn("__sub", sub)
        .drop("__bshard", "__lo", "__hi")
    )

    # Phase 1: tiny partials frame (<= n_sources * n_subshards rows);
    # exclusive prefix offsets over it. All n_tokens are non-null by
    # construction, so the partial sums are too.
    partials = sharded.groupBy(shard_col, "__sub").agg(
        F.sum("n_tokens").cast("long").alias("__part"))
    w_off = (
        Window.partitionBy(shard_col).orderBy("__sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        partials.withColumn(
            "__offset",
            F.coalesce(F.sum("__part").over(w_off), F.lit(0)).cast("long"))
        .drop("__part")
        .withColumnRenamed(shard_col, "__oshard")
        .withColumnRenamed("__sub", "__osub")
    )

    # Phase 2: prune past-budget sub-shards BEFORE the sort, then one
    # window per (source, sub-shard) — the only exchange that carries
    # document rows.
    w2 = (
        Window.partitionBy(shard_col, "__sub").orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        sharded.join(
            F.broadcast(offsets),
            F.col(shard_col).eqNullSafe(F.col("__oshard"))
            & (F.col("__sub") == F.col("__osub")))
        .drop("__oshard", "__osub")
        .filter(F.col("__offset") <= budget)
        .withColumn(
            "cum_tokens",
            (F.col("__offset") + F.sum("n_tokens").over(w2)).cast("long"))
        .filter(F.col("cum_tokens") <= budget)
        .select(id_col, shard_col, "n_tokens", "cum_tokens")
    )


def line_repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dup_line_threshold: float = 0.30,
    dup_char_threshold: float = 0.20,
) -> DataFrame:
    """Line-level repetition rules (Rae et al. 2021 app. A1.1's other
    repetition half — d11 covers the token level): fraction of
    non-blank LINES that are duplicates of another line in the same
    document, and the fraction of CHARACTERS living in duplicated
    lines; flagged past Gopher's published thresholds (0.30 / 0.20).

    Pure array lambdas, zero shuffle — the gate rides the scan at
    100 TB like d17. The char fraction is computed on a PROJECTED
    sorted copy of the lines: a line is duplicated iff it equals a
    sorted neighbor, so one ``array_sort`` plus an index-lambda pass
    replaces the first draft's nested ``filter(lines, y == x)`` —
    which was both O(lines²) comparisons AND re-evaluated the
    un-projected split per inner element (the d19 lambda-CSE trap;
    measured 3.45× wall at 8× on multi-line input, see SCALING.md).
    Projecting ``__ls`` first keeps it a per-row bound reference
    inside the lambdas (CollapseProject leaves multiply-referenced
    non-trivial aliases alone), so the whole gate is O(L log L) per
    document.
    """
    t = F.col(text_col)
    lines = F.filter(F.split(t, "\n"), lambda x: F.length(F.trim(x)) > 0)
    staged = df.select(
        F.col(id_col), F.array_sort(lines).alias("__ls"))
    ls = F.col("__ls")
    n_lines = F.size(ls).cast("long")
    n_distinct = F.size(F.array_distinct(ls)).cast("long")
    has = n_lines > 0
    dup_line_frac = F.when(has, 1 - n_distinct / n_lines)
    total_chars = F.aggregate(
        ls, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    # sorted-adjacent duplicate test: OOB F.get is NULL, NULL == x is
    # NULL, and when(NULL) falls to the 0 branch — edges are safe.
    dup_chars = F.aggregate(
        F.transform(
            ls,
            lambda x, i: F.when(
                (x == F.get(ls, i - 1)) | (x == F.get(ls, i + 1)),
                F.length(x).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dup_char_frac = F.when(has & (total_chars > 0), dup_chars / total_chars)
    return staged.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        n_distinct.alias("n_distinct_lines"),
        dup_line_frac.alias("dup_line_frac"),
        dup_char_frac.alias("dup_line_char_frac"),
        (F.coalesce(dup_line_frac > dup_line_threshold, F.lit(False))
         | F.coalesce(dup_char_frac > dup_char_threshold, F.lit(False))
         ).alias("line_repetitive"),
    )


#: Demo blocklist for the C4-style term filter — real deployments pass
#: their own list (C4 used a public profanity list; the operator is
#: list-agnostic). Phrases allowed: matching is whole-word/phrase.
DEFAULT_BLOCKLIST: tuple[str, ...] = (
    "click here", "buy now", "limited offer", "free money", "winner winner",
)


#: regex metacharacters of the Java∩RE2 common subset — every term is
#: escaped against these before entering the alternation, so a term
#: like 'c++' or '$9.99' matches LITERALLY instead of silently changing
#: the pattern's semantics.
_REGEX_META = set("\\.^$*+?()[]{}|")


def _blocklist_pattern(terms: tuple[str, ...]) -> str:
    """Word-boundary alternation over literally-escaped terms — the one
    pattern builder both blocked_expr and blocklist_filter compile, so
    the escaping discipline can't drift between the flag and the
    filter.

    ``\\b`` anchors are PER TERM and only where the term's edge is a
    word character: ``\\b`` between two non-word chars never matches
    (Java and RE2 agree), so a blanket ``\\b(...)\\b`` would silently
    make terms like 'c++' or '$9.99' unmatchable.

    Matching is case-INSENSITIVE end to end: callers lowercase the
    text, so each term is lowercased HERE — otherwise a list entry
    like 'Buy Now' would silently never match. The word-char test is
    ASCII ``[A-Za-z0-9_]`` (not Python's Unicode ``isalnum``) because
    Java/RE2 ``\\b`` is ASCII-word-based: a ``\\b`` next to 'é' in
    'café' would never match, so accented-edge terms get no anchor and
    match as substrings — the engine-faithful behavior.
    """
    if not terms:
        raise ValueError("blocklist needs at least one term")

    def _alt(term: str) -> str:
        term = term.lower()
        esc = "".join("\\" + c if c in _REGEX_META else c for c in term)
        word = lambda ch: ("a" <= ch <= "z") or ("0" <= ch <= "9") or ch == "_"  # noqa: E731
        pre = r"\b" if term and word(term[0]) else ""
        suf = r"\b" if term and word(term[-1]) else ""
        return pre + esc + suf

    return "(" + "|".join(_alt(t) for t in terms) + ")"


def blocked_expr(text_col: Column | str,
                 terms: tuple[str, ...] = DEFAULT_BLOCKLIST) -> Column:
    """Boolean column: text contains any blocked word/phrase
    (word-boundary, case-insensitive) — shared by the d20 query and the
    funnel's ``quality_rules='c4'`` stage. Terms are escaped to match
    literally (see _blocklist_pattern)."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_count(F.lower(t), F.lit(_blocklist_pattern(terms))).cast("long") > 0


def blocklist_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    terms: tuple[str, ...] = DEFAULT_BLOCKLIST,
) -> DataFrame:
    """C4-style blocked-term document filter (Raffel et al. 2020 §2.2
    removed pages containing any term from a public blocklist): per-doc
    count of blocked word/phrase occurrences (word-boundary,
    case-insensitive) and the ``blocked`` flag. One regex alternation,
    pure projection, zero shuffle — the list is compiled into the
    expression, so at 100 TB this rides the scan like every other gate.
    Terms are escaped to match literally, so lists containing regex
    metacharacters ('c++', '$9.99') behave as word/phrase literals;
    the compiled pattern stays in the Java∩RE2 subset so the oracle
    replays it exactly.
    """
    hits = F.regexp_count(
        F.lower(F.col(text_col)),
        F.lit(_blocklist_pattern(terms))).cast("long")
    return df.select(
        F.col(id_col),
        hits.alias("n_blocked_terms"),
        (hits > 0).alias("blocked"),
    )


def corpus_shuffle(
    df: DataFrame,
    seed: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global corpus shuffle for training order: every doc
    gets a pseudo-random (shard, position) from ``md5(seed:id)`` — the
    training-data ordering op (decorrelate adjacent source documents)
    done WITHOUT rand(), so the permutation is reproducible across
    engines, runs, and partitionings, and changing ``seed`` gives an
    independent epoch order.

    Scale shape: shard assignment is a pure projection; position is one
    rank window PER SHARD (the same distributed window discipline as
    sequence_packing — a single global ORDER BY would be the scale bug).
    A reader streams shard s in position order; across shards any
    interleave is valid because shard assignment is itself random.

    SIZE ``n_shards`` TO THE CORPUS: one shard is one window partition
    = one reducer's sort, so a shard should hold at most a few million
    docs (rows/cluster-cores is a good start; the default 8 is
    demo-scale only). More shards never hurt correctness — any
    cross-shard interleave is a valid shuffle — so err high.
    """
    from pyspark.sql import Window

    key = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    shard = (F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint") % n_shards).cast("int")
    out = df.select(F.col(id_col), key.alias("__k"), shard.alias("shard"))
    w = Window.partitionBy("shard").orderBy("__k", id_col)
    return out.select(
        id_col, "shard",
        (F.row_number().over(w) - 1).cast("long").alias("position"),
    )


# -- PII / pattern redaction -------------------------------------------------

#: Redaction chain (ordered: structured patterns before the bare digit
#: run, so an IPv4 octet is consumed as <IP>, not four <NUM>s). Each
#: pattern stays inside the Java-regex ∩ RE2 common subset (no
#: lookaround, no backrefs) so a SQL oracle can replay it exactly.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    # (?:\B\+|\b): '\b\+?' put a word boundary BETWEEN two non-word
    # chars (space→'+'), which never matches — so ' +49 171 2345678'
    # redacted to ' +<PHONE>' with the plus left behind. \B holds
    # exactly where \b doesn't, so '\B\+' matches a '+' after
    # whitespace/start; both \b and \B are in the Java∩RE2 subset.
    (r"(?:\B\+|\b)[0-9][0-9 ()-]{6,}[0-9]\b", "<PHONE>"),
    (r"[0-9]+", "<NUM>"),
)


def redact_pii(text: Column | str, patterns=PII_PATTERNS) -> Column:
    """Chained ``regexp_replace`` redaction — the standard PII scrub of a
    training-corpus pipeline (emails, IPs, phone-ish digit runs, then any
    remaining number). Pure codegen projection: zero shuffle, scales as
    a map over the scan.
    """
    out = F.col(text) if isinstance(text, str) else text
    for pat, tag in patterns:
        out = F.regexp_replace(out, pat, tag)
    return out


def redaction_count(text: Column | str, patterns=PII_PATTERNS) -> Column:
    """How many spans the redaction chain would replace (audit metric).
    Counts on the partially-redacted intermediate exactly as the chain
    sees it, so the sum matches what ``redact_pii`` actually rewrote."""
    t = F.col(text) if isinstance(text, str) else text
    total = F.lit(0)
    for pat, tag in patterns:
        total = total + F.regexp_count(t, F.lit(pat))
        t = F.regexp_replace(t, pat, tag)
    return total


# -- BPE-ish regex tokenizer -------------------------------------------------

#: GPT-2-style pretokenizer, restricted to the Java-regex ∩ RE2 common
#: subset (the original uses lookahead for trailing-space handling;
#: this variant folds the optional leading space into each class, the
#: standard lookahead-free approximation). Contractions first so
#: "don't" → ["don", "'t"], then letter runs, digit runs, punct runs.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_tokens(text: Column | str) -> Column:
    """Array of BPE-ish pretokens (regexp_extract_all, whole match)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(t, F.lit(BPE_PATTERN), 0)


def bpe_token_count(text: Column | str) -> Column:
    """Pretoken count net of pure-whitespace matches — the usual
    "how many BPE merges will the real tokenizer start from" budget
    metric, cheap enough to run over the whole corpus per ingest.

    Whitespace-only matches are filtered out of the extracted array
    (they can't be subtracted as a standalone ``\\s+`` count: the
    `` ?\\p{L}+`` branch consumes single leading spaces, so the two
    tallies of whitespace disagree)."""
    t = F.col(text) if isinstance(text, str) else text
    nonws = F.filter(bpe_tokens(t), lambda m: F.length(F.trim(m)) > 0)
    return F.size(nonws).cast("int")


# -- word n-grams ------------------------------------------------------------

def word_ngrams(text: Column | str, n: int = 2) -> Column:
    """Array of word ``n``-grams (space-joined) from whitespace tokens.
    Built-in lambdas over the token array — per-row codegen, no shuffle;
    the downstream count is a map-side-combinable groupBy of short
    n-gram strings (vocab-bounded, not corpus-bounded).

    Shape note: built as a ``zip_with`` chain over ``n`` shifted slices,
    NOT per-element ``F.get(toks, i + j)`` indexing — Catalyst does not
    common-subexpression the un-projected ``split`` inside a lambda, so
    the indexing form re-split the whole document once per gram element
    per position (O(tokens²·n) per doc — measured 13.1 s for d19 at
    sf0.1 vs 1.7 s after this rewrite + scan spread). Each slice here
    evaluates the split once per ROW."""
    t = F.trim(F.col(text) if isinstance(text, str) else text)
    toks = F.split(t, r"\s+")
    count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    grams = F.slice(toks, F.lit(1), count)
    for j in range(1, n):
        grams = F.zip_with(
            grams, F.slice(toks, F.lit(j + 1), count),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return grams


def duplicate_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    flag_threshold: float = 0.3,
    skew_safe: bool = False,
) -> DataFrame:
    """Duplicated-passage profile (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): substring-level
    duplication that whole-document dedup (d13-d16) cannot see — for
    each document, the fraction of its word ``k``-gram positions whose
    gram occurs MORE THAN ONCE anywhere in the corpus (boilerplate
    headers, licence blocks, templated spans). Output per doc:
    ``n_grams``, ``n_dup_grams``, ``dup_gram_frac``, and
    ``dup_passage_flag`` when the fraction exceeds ``flag_threshold``.

    Scale shape: grams leave the row only as md5 hashes, and the WHOLE
    corpus-wide count is one hash-partitioned window — explode →
    ``count(*) over (partition by hash)`` → per-doc aggregate. Exactly
    ONE gram-scale exchange (the window's hash partitioning); the
    per-doc aggregate partial-combines map-side down to doc rows
    before its (tiny) shuffle. The first formulation of this operator
    (pre-agg per (doc, hash) → global agg → join back → doc agg) had
    FOUR gram-scale exchanges and measured 3.9× wall at 8× data; the
    window form is the measured-best plan on roughly-uniform gram
    frequencies, and DuckDB supports the identical window, so the
    oracle survives the rewrite. md5 (not xxhash) so the oracle replays
    the grouping key exactly — the same trade x29 makes; at petabyte
    gram volumes swap the expression for xxhash64 (8-byte shuffle keys,
    ~2.5× fewer bytes, same plan) and accept a rows-only check.

    ``skew_safe=True`` — the zipfian-corpus route: real web corpora
    have boilerplate grams (licence blocks, templated headers)
    occurring 10⁸-10⁹ times at 100 TB, and the window's
    ``PARTITION BY hash`` ships EVERY instance of such a gram to one
    reducer — a straggler AQE cannot split (window partitions, unlike
    join partitions, are indivisible). The safe route replaces the
    window with a global ``groupBy(hash).count()`` — map-side partial
    combine collapses the hot gram to ONE row per map task, so no
    reducer ever sees more rows than there are map tasks — then joins
    the duplicated-hash set back to the gram stream with a sort-merge
    join, which AQE's skew-join optimization CAN split. Identical
    semantics (same oracle); costs a second gram-scale exchange, so
    it's opt-in — SCALING.md's round-10 skew fixture measures both
    routes.
    """
    from pyspark.sql import Window

    # gram generation is the CPU-heavy per-row stage; a single-row-group
    # scan would serialize it on one task (same starved-scan hazard the
    # vector ops guard against) — no-op on multi-file production layouts
    from spaceparts_data_pipeline_spark.operators.similarity import _ensure_parallel

    grams = _ensure_parallel(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.explode(word_ngrams(text_col, k)).alias("__gram"),
    ).select(id_col, F.md5("__gram").alias("__h"))
    if skew_safe:
        dup_h = (
            grams.groupBy("__h").agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") > 1)
            .select("__h", F.lit(1).alias("__dup"))
        )
        counted = grams.join(dup_h, "__h", "left")
        dup_pred = F.col("__dup") == 1
    else:
        counted = grams.withColumn(
            "__c_glob", F.count(F.lit(1)).over(Window.partitionBy("__h")))
        dup_pred = F.col("__c_glob") > 1
    per_doc = counted.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.when(dup_pred, F.lit(1)).otherwise(F.lit(0)))
        .cast("long").alias("n_dup_grams"),
    )
    n_grams = F.coalesce("n_grams", F.lit(0)).cast("long")
    n_dup = F.coalesce("n_dup_grams", F.lit(0)).cast("long")
    frac = F.when(n_grams > 0, n_dup / n_grams)
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            n_grams.alias("n_grams"),
            n_dup.alias("n_dup_grams"),
            frac.alias("dup_gram_frac"),
            F.coalesce(frac > flag_threshold, F.lit(False)).alias("dup_passage_flag"),
        )
    )


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    skew_safe: bool = False,
) -> DataFrame:
    """Exact-substring dedup REMOVAL — the dedup Lee et al. 2021
    actually run (and :func:`duplicate_passages` only profiles): cut
    every duplicated passage out of every document, at word-``k``-gram
    granularity. A token is removed iff it is covered by ANY ``k``-gram
    whose exact text occurs more than once corpus-wide (so both copies
    of a boilerplate span are cut, same as the published pipeline); the
    surviving tokens are rejoined with single spaces. Whole-document
    duplicates (d13-d16) reduce to the special case where every
    position is covered.

    Output per doc: ``clean_text`` (NULL text stays NULL; a fully
    duplicated doc becomes ''), ``n_tokens`` (pre-removal, 0 for
    blank/NULL), ``n_removed_tokens``.

    Scale shape — same discipline as :func:`duplicate_passages`, whose
    gram window this extends: grams leave the row only as md5 hashes,
    corpus-global occurrence counting is the ONE gram-scale exchange
    (``count(*) over (partition by hash)``), and only DUPLICATED gram
    start positions flow into the per-doc aggregate (tiny for mostly-
    clean corpora — exactly the 100 TB case). Reconstruction is pure
    per-doc array work with no lambda-CSE trap: the token array is
    projected ONCE, covered positions expand via ``sequence`` (O(dup
    starts × k)), and the kept-index set is ``array_except`` — hash-set
    based, linear in tokens — so a document costs O(T + D·k), never
    O(T·D). Boundary semantics at window edges: a duplicated gram
    covers exactly its ``k`` tokens, so a unique suffix shorter than
    ``k`` that merely OVERLAPS a duplicated window survives unless one
    of its own grams is itself duplicated.

    md5 (not xxhash) for the same oracle-replayability trade d19/x29
    make; swap to xxhash64 at petabyte gram volumes and accept a
    rows-only check.

    ``skew_safe=True`` swaps the gram window for the zipfian-corpus
    plan shared with :func:`duplicate_passages`: global
    ``groupBy(hash).count()`` (map-side partial combine collapses a
    boilerplate gram to one row per map task) → duplicated-hash set →
    AQE-skew-splittable sort-merge LEFT SEMI back to the (id, pos,
    hash) stream. Same semantics and oracle; one extra gram-scale
    exchange; no indivisible window partition for a hot gram to
    serialize. Measured against the window route on a skewed fixture
    in SCALING.md round-10.
    """
    from pyspark.sql import Window

    from spaceparts_data_pipeline_spark.operators.similarity import _ensure_parallel

    base = _ensure_parallel(df.select(F.col(id_col), F.col(text_col)))
    grams = base.select(
        F.col(id_col),
        F.posexplode(word_ngrams(text_col, k)).alias("__p", "__g"),
    ).select(id_col, "__p", F.md5("__g").alias("__h"))
    if skew_safe:
        dup_h = (
            grams.groupBy("__h").agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") > 1).select("__h")
        )
        dup_grams = grams.join(dup_h, "__h", "left_semi")
    else:
        dup_grams = grams.withColumn(
            "__c", F.count(F.lit(1)).over(Window.partitionBy("__h"))
        ).filter(F.col("__c") > 1)
    dup_starts = dup_grams.groupBy(id_col).agg(
        F.collect_list("__p").alias("__starts"))

    t = F.trim(F.col(text_col))
    toks = F.when(F.length(t) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(t, r"\s+"))
    staged = (
        base.join(dup_starts, id_col, "left")
        .withColumn("__t", toks)
        .withColumn("__n", F.coalesce(F.size("__t"), F.lit(0)))
    )
    removed = F.array_distinct(F.flatten(F.transform(
        F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
        lambda p: F.sequence(p, p + F.lit(k - 1)),
    )))
    all_idx = F.when(F.col("__n") > 0,
                     F.sequence(F.lit(0), F.col("__n") - 1).cast("array<int>")) \
               .otherwise(F.array().cast("array<int>"))
    kept = F.array_except(all_idx, F.col("__removed"))
    clean = F.array_join(
        F.transform(kept, lambda j: F.element_at(F.col("__t"), j + F.lit(1))), " ")
    return (
        staged.withColumn("__removed", removed)
        .select(
            F.col(id_col),
            F.when(F.col(text_col).isNotNull(), clean).alias("clean_text"),
            F.col("__n").cast("long").alias("n_tokens"),
            F.size("__removed").cast("long").alias("n_removed_tokens"),
        )
    )


def ngram_topk(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    n: int = 2,
    k: int = 10,
    two_pass: bool = False,
) -> DataFrame:
    """Top-``k`` word n-grams per ``group_col`` value, ranked by
    (freq DESC, gram ASC). Output: (group, bigram, freq, rk).

    ``two_pass=False`` — the direct route: one count over (group, gram)
    then a rank-limit window. Exact, oracle-able, but the count shuffle
    carries every distinct gram STRING once per map partition — at
    corpus scale that exchange is vocabulary-sized in *bytes of text*.

    ``two_pass=True`` — the at-scale route (measured in SCALING.md):

    1. count by (group, xxhash64(gram)) — the big shuffle moves 8-byte
       hashes, no strings; ``rank()`` (not row_number) keeps every hash
       tied at the k-th frequency, so the candidate set is a SUPERSET
       of the true top-k under ties;
    2. re-scan, keep only grams whose hash is in the (broadcast-small)
       candidate set, exact-count those few strings, final window.

    Same result as the direct route up to 64-bit hash collisions: a
    collision merges two grams' pass-1 counts, which can pull an extra
    gram into the candidate set (harmless — pass 2 recounts exactly)
    or, by inflating OTHER grams' buckets, push a true boundary gram
    out of it (an actual miss). Both require a 64-bit collision inside
    one group's vocabulary — the same negligible-collision equivalence
    class the engine already accepts for md5 text grouping in d01.
    """
    from pyspark.sql import Window

    grams = df.filter(F.length(F.trim(text_col)) > 0).select(
        F.col(group_col), F.explode(word_ngrams(text_col, n)).alias("bigram")
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("freq"), F.asc("bigram"))
    if not two_pass:
        counted = grams.groupBy(group_col, "bigram").agg(F.count(F.lit(1)).alias("freq"))
        return counted.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)

    hashed = grams.groupBy(group_col, F.xxhash64("bigram").alias("h")).agg(
        F.count(F.lit(1)).alias("freq"))
    wh = Window.partitionBy(group_col).orderBy(F.desc("freq"))
    candidates = hashed.withColumn("rnk", F.rank().over(wh)) \
        .filter(F.col("rnk") <= k).select(group_col, "h")
    finalists = grams.join(
        F.broadcast(candidates),
        (grams[group_col] == candidates[group_col])
        & (F.xxhash64(grams["bigram"]) == candidates["h"]),
        "left_semi",
    )
    counted = finalists.groupBy(group_col, "bigram").agg(F.count(F.lit(1)).alias("freq"))
    return counted.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


# -- character-LM quality scoring -------------------------------------------

def char_bigrams(text: Column | str) -> Column:
    """Array of character bigrams of ``text`` (overlapping, in order).

    Built by ``zip_with`` over two shifted slices of a per-row char
    array — the same CSE-safe shape as :func:`word_ngrams` (a
    per-element ``substring(text, i, 2)`` lambda would rescan the
    string prefix per position: O(chars²) per doc). Empty and
    single-char text yield an empty array; NULL stays NULL.

    Note ``split(text, '')`` on the EMPTY string returns ``[""]`` in
    Spark (one empty element), so the short-text guard is explicit —
    the DuckDB oracle twin (``range(1, length(text))``) has no such
    edge and the two must agree.
    """
    t = F.col(text) if isinstance(text, str) else text
    chars = F.split(t, "")
    n = F.greatest(F.size(chars) - 1, F.lit(0))
    grams = F.zip_with(
        F.slice(chars, F.lit(1), n), F.slice(chars, F.lit(2), n),
        lambda a, b: F.concat(a, b),
    )
    return F.when(F.length(t) < 2, F.array().cast("array<string>")).otherwise(grams)


def char_vocab(train: DataFrame, text_col: str = "text") -> DataFrame:
    """1-row frame ``(v)``: distinct character count of the training
    corpus — the Laplace smoothing denominator ``V``. Empty/NULL text
    contributes nothing (explicit guard for Spark's ``split('', '')
    == ['']`` edge)."""
    t = F.col(text_col)
    chars = F.when(F.length(t) == 0, F.array().cast("array<string>")) \
        .otherwise(F.split(t, ""))
    return (
        train.select(F.explode(chars).alias("ch"))
        .agg(F.count_distinct("ch").alias("v"))
    )


def charlm_nll(
    docs: DataFrame,
    train: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Character-bigram language-model quality score (the CCNet /
    fastText-LM filtering signal, reduced to a relational form): train
    a Laplace-smoothed char-bigram LM on ``train``, score every doc in
    ``docs`` by total negative log-likelihood. High NLL per gram marks
    out-of-distribution text (wrong language, encoding garbage,
    boilerplate markup) — the classic third leg next to the rule-based
    Gopher/C4 gates (operators.text.gopher_rules / c4 line filter).

    Model: P(c2|c1) = (count(c1c2) + 1) / (count(c1·) + V), V =
    distinct training chars. Unseen grams and unseen contexts are
    well-defined through the same formula (counts coalesce to 0).

    Output: one row per input doc — ``n_grams`` (0 for short/NULL
    text), ``nll6`` (decimal-exact sum of per-gram-type
    ``round(ln(·), 6)`` terms × in-doc counts), ``avg_nll`` (single
    IEEE division, 0.0 when no grams).

    Scale shape (100 TB): the model is vocab²-bounded (≤ a few k rows
    for text) → both model joins and the V frame BROADCAST; the gram
    stream is exploded but partial-combines map-side to (doc, gram-type)
    rows before its only shuffle, then to doc rows — no corpus-scale
    text ever crosses an exchange, and there is no skewable key (the
    final group key is doc_id). Cross-engine bit-exactness: per-gram
    terms are rounded to 6 dp BEFORE the multiply-sum, and the doc sum
    uses the decimal pattern (functions.scalars.dsum).
    """
    from spaceparts_data_pipeline_spark.functions.scalars import dsum

    def _grams(df: DataFrame, *cols: Column) -> DataFrame:
        return df.select(*cols, F.explode(char_bigrams(text_col)).alias("g"))

    model = _grams(train).groupBy("g").agg(F.count(F.lit(1)).alias("c12"))
    # Gram-kernel share (OPTIMIZATION_r16.md change 4, frame form): cut
    # the vocab²-bounded model frame so its two broadcast consumers
    # (model join + the ctx derivation) materialize ONE training gram
    # explosion instead of re-running it each. On the SINGLE-FILE sf0.1
    # bench the cut LOSES (+0.6-1.5 s: the blocking materialization job
    # costs more than duplicate explosions running concurrently on idle
    # cores) but WINS −14..−18% once the scan has ≥1 split per core
    # (multi-file / larger-data legs, SCALING.md "share crossover") —
    # lineage.scale_share resolves that crossover per construction from
    # the training scan's parallelism. Pure materialization of a
    # deterministic frame: values identical either way.
    if scale_share(train):
        model = stage_cut(model, eager=False)
    ctx = model.groupBy(F.substring("g", 1, 1).alias("c1")).agg(
        F.sum("c12").alias("c1n"))
    vocab = char_vocab(train, text_col)

    dgc = _grams(docs, F.col(id_col)).groupBy(id_col, "g").agg(
        F.count(F.lit(1)).alias("dcnt"))
    terms = (
        dgc.join(F.broadcast(model), "g", "left")
        .join(F.broadcast(ctx), F.substring(F.col("g"), 1, 1) == ctx["c1"], "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "term6",
            F.round(F.log(
                (F.coalesce(F.col("c1n"), F.lit(0)) + F.col("v")).cast("double")
                / (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
            ), 6),
        )
    )
    per_doc = terms.groupBy(id_col).agg(
        F.sum("dcnt").alias("n_grams"),
        dsum(F.col("dcnt") * F.col("term6"), "nll6"),
    )
    out = docs.select(id_col, *keep_cols).join(per_doc, id_col, "left")
    return out.select(
        id_col,
        *keep_cols,
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("nll6", F.lit(0.0)).alias("nll6"),
        F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0))
        .otherwise(F.coalesce("nll6", F.lit(0.0)) / F.col("n_grams"))
        .alias("avg_nll"),
    )


# -- DSIR importance weights --------------------------------------------------

def dsir_importance(
    docs: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 512,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023, DSIR),
    reduced to a relational plan: score every raw-pool doc by the
    log importance weight of its hashed n-gram features under a
    target-vs-raw bag-of-hashed-ngrams model. The standard
    "select pretraining data that looks like the target domain" op —
    the distribution-matching leg next to the model-based (charlm_nll)
    and rule-based (gopher_rules / c4) quality signals.

    Features are word unigrams + bigrams hashed into ``n_buckets``
    engine-portable md5 buckets (:func:`hash_bucket`). Per bucket b:
    ``p_b = (target_count+1)/(target_total+B)`` (Laplace), ``q_b``
    likewise over the raw pool (= ``docs``); per-doc
    ``logw = sum_b count_b(doc) * round(ln(p_b/q_b), 6)``. Docs with
    NULL/whitespace-only text get 0 features and 0.0 weights.

    Output: one row per input doc — ``n_feats``, ``logw6``
    (decimal-exact sum of 6dp-rounded per-bucket terms x in-doc
    counts), ``avg_logw`` (single IEEE division, 0.0 when no feats).
    Selection composes downstream (threshold filter, x35 token-budget
    mix, d12-style bucket sampling) — scoring and selection are
    deliberately separate operators.

    Scale shape (100 TB): the bucket log-ratio table is B rows →
    BROADCAST, as are the two 1-row totals; the gram stream
    partial-combines map-side to (doc, bucket) rows — at most B per
    doc — before its only shuffle, then to doc rows. No corpus-scale
    text crosses an exchange and the final group key is doc_id (no
    skewable hot key). Cross-engine bit-exactness: per-bucket terms
    are rounded to 6 dp BEFORE the multiply-sum, the doc sum uses the
    decimal pattern (functions.scalars.dsum), and the inner Laplace
    divisions are written in the same association order as the oracle
    SQL.
    """
    from spaceparts_data_pipeline_spark.functions.scalars import dsum

    def _feats(df: DataFrame, *cols: Column) -> DataFrame:
        t = F.col(text_col)
        grams = F.concat(word_ngrams(text_col, 1), word_ngrams(text_col, 2))
        return (
            df.filter(t.isNotNull() & (F.length(F.trim(t)) > 0))
            .select(*cols, F.explode(grams).alias("g"))
            .select(*cols, hash_bucket("g", n_buckets).alias("b"))
        )

    bd = float(n_buckets)
    tcnt = _feats(target).groupBy("b").agg(F.count(F.lit(1)).alias("ct"))
    rcnt = _feats(docs).groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    # Cut the two ≤B-row count frames so each one's two consumers (its
    # total + the ratio join) materialize ONE feature explosion instead
    # of two — the d24 leg of the frame-form gram-kernel share (see
    # charlm_nll above: loses at single-file sf0.1, wins −12..−29% at
    # ≥1 scan split per core; lineage.scale_share resolves the
    # crossover per construction, values identical either way).
    if scale_share(docs):
        tcnt = stage_cut(tcnt, eager=False)
        rcnt = stage_cut(rcnt, eager=False)
    ttot = tcnt.agg(F.sum("ct").cast("double").alias("tn"))
    rtot = rcnt.agg(F.sum("cr").cast("double").alias("rn"))
    ratio = (
        rcnt.join(tcnt, "b", "left")
        .crossJoin(F.broadcast(ttot)).crossJoin(F.broadcast(rtot))
        .select(
            "b",
            F.round(F.log(
                ((F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0)) / (F.col("tn") + F.lit(bd)))
                / ((F.col("cr") + F.lit(1.0)) / (F.col("rn") + F.lit(bd)))
            ), 6).alias("r6"),
        )
    )

    dgc = _feats(docs, F.col(id_col)).groupBy(id_col, "b").agg(
        F.count(F.lit(1)).alias("dcnt"))
    per_doc = (
        dgc.join(F.broadcast(ratio), "b")
        .groupBy(id_col)
        .agg(F.sum("dcnt").alias("n_feats"),
             dsum(F.col("dcnt") * F.col("r6"), "logw6"))
    )
    out = docs.select(id_col, *keep_cols).join(per_doc, id_col, "left")
    return out.select(
        id_col,
        *keep_cols,
        F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
        F.coalesce("logw6", F.lit(0.0)).alias("logw6"),
        F.when(F.coalesce("n_feats", F.lit(0)) == 0, F.lit(0.0))
        .otherwise(F.coalesce("logw6", F.lit(0.0)) / F.col("n_feats"))
        .alias("avg_logw"),
    )


# -- selection-threshold calibration ------------------------------------------

def charlm_calibrate(
    ref: DataFrame,
    q: float = 0.5,
    text_col: str = "text",
) -> float:
    """Self-calibrated threshold for the charlm quality gate: score the
    reference corpus under its OWN char-bigram model
    (:func:`charlm_nll`) and return the exact ``q``-quantile of
    ``avg_nll`` over scorable docs — the gate then keeps docs whose
    avg NLL is ``<=`` this value, i.e. docs that look at least as
    in-distribution as the ref's best ``q`` fraction.

    Why an operator and not a constant: a fixed NLL threshold does NOT
    transfer across corpora or scales — the Laplace denominator grows
    with the training vocabulary, shifting every doc's NLL (the scale
    harness measured a calibrated threshold of 1.797 at 1× vs 2.687 at
    8× on the same fixture family). Quantile-on-reference is the CCNet
    practice (per-language perplexity percentiles); one tiny agg over
    the ref slice, which is small by construction even at 100 TB.

    Returns an IEEE double (exact ``percentile``, not approx — the ref
    slice is small and the threshold feeds correctness decisions).
    Raises ``ValueError`` if the ref has no scorable docs.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q!r}")
    # localCheckpoint pins the nondeterministic ids: the id'd frame is
    # referenced by TWO branches inside charlm_nll (gram stream + the
    # left-join spine), and monotonically_increasing_id re-evaluated on
    # a task retry / recompute can assign DIFFERENT ids per branch —
    # silently joining scores to the wrong docs. The ref slice is small
    # by construction, so the materialization is cheap.
    idd = ref.select(F.monotonically_increasing_id().alias("__cid"),
                     F.col(text_col)).localCheckpoint(eager=True)
    scored = charlm_nll(idd, ref, id_col="__cid", text_col=text_col)
    thr = (scored.filter(F.col("n_grams") > 0)
           .agg(F.percentile("avg_nll", F.lit(q))).first()[0])
    if thr is None:
        raise ValueError("charlm_calibrate: reference has no scorable docs")
    return float(thr)


def dsir_calibrate(
    pool: DataFrame,
    target: DataFrame,
    keep_frac: float = 0.5,
    text_col: str = "text",
    n_buckets: int = 512,
) -> float:
    """Self-calibrated threshold for the DSIR selection gate: score the
    raw pool (or a sample of it) against ``target``
    (:func:`dsir_importance`) and return the exact
    ``(1 - keep_frac)``-quantile of ``avg_logw`` over scorable docs —
    the gate then keeps docs with ``avg_logw >=`` this value, i.e. the
    most-target-like ``keep_frac`` of the pool.

    DSIR proper resamples by importance weight; the gate form needs a
    cut point, and "keep the top fraction" is the knob a pipeline
    actually sets (a raw log-ratio value means nothing across corpora
    — it shifts with both distributions and the bucket count). At
    100 TB calibrate on a pool SAMPLE (the quantile is what matters,
    not the exact doc set); the scoring plan broadcasts the same
    bucket table either way.

    Raises ``ValueError`` if the pool has no scorable docs.
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac!r}")
    # same id-stability checkpoint as charlm_calibrate (the id'd frame
    # feeds two plan branches); at 100 TB calibrate on a pool SAMPLE —
    # this materializes (id, text) of whatever is passed in
    idd = pool.select(F.monotonically_increasing_id().alias("__cid"),
                      F.col(text_col)).localCheckpoint(eager=True)
    scored = dsir_importance(
        idd, target, id_col="__cid", text_col=text_col, n_buckets=n_buckets)
    thr = (scored.filter(F.col("n_feats") > 0)
           .agg(F.percentile("avg_logw", F.lit(1.0 - keep_frac))).first()[0])
    if thr is None:
        raise ValueError("dsir_calibrate: pool has no scorable docs")
    return float(thr)


# -- BPE merge training --------------------------------------------------------

def _bpe_compatible(p, accepted) -> bool:
    """True when merging any of ``accepted`` cannot change pair ``p``'s
    count (and vice versa): their symbol sets are disjoint AND neither's
    fused symbol collides with the other's symbols — a fused string
    equal to an accepted lhs/rhs would mint new instances of that
    symbol and move its counts."""
    l, r = p
    for al, ar in accepted:
        af = al + ar
        if {l, r} & {al, ar, af} or (l + r) in (al, ar):
            return False
    return True


def bpe_train(
    docs: DataFrame,
    k: int = 10,
    text_col: str = "text",
    min_count: int = 2,
    batch_max: int = 32,
    exact: bool = True,
) -> DataFrame:
    """Distributed BPE vocabulary LEARNING (Sennrich et al. 2016,
    "Neural Machine Translation of Rare Words with Subword Units"):
    iteratively find the most frequent adjacent symbol pair in the
    corpus and merge it, ``k`` rounds — the training counterpart of
    the fixed-pattern pretokenizer (:func:`bpe_tokens` / x33 only
    SEGMENTS with a published pattern; nothing in the stack learned
    merges until this op).

    Output: the merge table — one row per learned merge,
    ``(merge_rank, lhs, rhs, pair_count)``, fully deterministic:
    argmax ties break on (count DESC, lhs ASC, rhs ASC) with binary
    string comparison, identical in ANSI SQL, so the table is
    FULL-oracle checkable. Stops early when no pair reaches
    ``min_count`` (fewer than ``k`` rows).

    Algorithm, Spark-first:

    1. ONE corpus-scale pass: whitespace words → ``groupBy(word)``
       count. Everything after runs on the DISTINCT-WORD table
       (vocab-bounded — ~1e8 rows at 100 TB, not corpus-bounded),
       each word carrying its count and its current symbol array
       (seeded with single characters).
    2. Per round: adjacent pairs via ``zip_with`` over shifted slices
       (the ``word_ngrams`` pattern — no window, no skewable key;
       pair counts partial-combine map-side, the exchange carries
       pair-vocab-bounded rows) → ONE collected argmax row (bounded
       control-plane collect, the centroid precedent) → the merge
       applied to every symbol array as a JVM-side ``aggregate``
       fold implementing greedy LEFT-TO-RIGHT non-overlapping
       replacement (scan symbols; if the accumulator's last element
       is ``lhs`` and the current symbol is ``rhs``, fuse them —
       a freshly fused symbol never re-matches as ``lhs`` within the
       round because ``lhs || rhs != lhs`` for nonempty ``rhs``).
    3. ``localCheckpoint`` per round cuts the iterative lineage (the
       connected-components precedent — analyzed-plan growth, not
       data, is the loop risk).

    BATCHED rounds (round-11 verdict next-round #2 — one merge per
    round is driver-bound at production vocab sizes): each round
    accepts up to ``batch_max`` merges from ONE pair count and applies
    them in ONE fold pass, and the batch is chosen so the result is
    PROVABLY EQUAL to the sequential trainer, merge for merge:

    - the batch is a CONTIGUOUS PREFIX of the (count DESC, lhs, rhs)
      ranking whose members are pairwise compatible
      (:func:`_bpe_compatible` — disjoint symbols, no fused-symbol
      collisions), so applying any batch member leaves every other
      member's count untouched: the sequential trainer would see the
      same counts and pick them in the same order;
    - a merge (a,b)→ab can CREATE pairs — (x,ab) from occurrences of
      (x,a), (ab,y) from (b,y) — whose counts are bounded by their
      chaining pair's count, and every chaining pair shares a symbol
      with an accepted merge, i.e. is INCOMPATIBLE, i.e. (the prefix
      being all-compatible) ranks at or below the FIRST incompatible
      pair. The batch is therefore trimmed to members whose count is
      STRICTLY above that first incompatible count (the "barrier"):
      no created pair can out-rank or tie any accepted merge, so the
      sequential argmax sequence is reproduced exactly — ties
      included, since surviving members' counts beat the barrier
      outright. Counts are non-increasing along the prefix, so the
      trim drops a suffix and contiguity is preserved.
    - when the bounded top-L collect fills up without meeting an
      incompatible pair, the last collected count is the conservative
      barrier (an uncollected chaining pair can't count higher).

    Adversarial inputs (overlapping runs, shared hot symbols) make the
    first incompatible pair rank near the top → batch degenerates to
    1 → sequential behavior, which is why equality holds universally
    rather than just on friendly corpora. ``batch_max=1`` forces the
    literal one-merge-per-round loop.

    MEASURED LIMIT of exact batching: on natural text the top pairs
    CHAIN (after (t,h) the next argmax is typically (th,e) — sharing
    the fresh symbol), so the first incompatible pair ranks near the
    top and the exact batch averages ~1.2 merges/round (measured on
    the sf0.01 documents corpus: 89 merges in 77 rounds). Sequential
    BPE's argmax is inherently serial in that regime — no
    equality-preserving batching can beat it. For production vocab
    sizes pass ``exact=False``: the standard fast-trainer relaxation
    (greedy MAX-COMPATIBLE-SET per round — scan the ranked pairs,
    accept every pair disjoint from the batch so far, up to
    ``batch_max``). Each accepted merge is still frequency-justified
    from a true corpus count and ties break identically, but a pair
    created by this round's merges is only visible NEXT round, so the
    merge table may ORDER differently from the sequential trainer's
    (and occasionally pick a different borderline pair). Wall becomes
    ~O(k / batch_max) corpus passes — the property a 32k-vocab
    trainer needs. On overlap-heavy inputs every candidate shares
    symbols, the set collapses to one merge, and greedy == sequential
    (pinned by tests). The sequential/exact path remains the oracle
    (x37's driver row runs it; the greedy table is validated by vocab
    overlap + encode-compression parity in the local suite).

    Word source is the plain whitespace split (the engine's
    ``token_count`` convention) so the DuckDB oracle twin is exact;
    production trainers would pretokenize first (feed
    ``bpe_tokens``-segmented text in via ``text_col``), which changes
    the word table, not the algorithm.

    Greedy-fold ≡ run-parity equivalence (the oracle computes the
    same merge positions as "odd offsets within each run of
    consecutive matches") is pinned by unit tests on overlap-heavy
    inputs (``aaa``/``aaaa`` runs, multi-char merges).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k!r}")
    spark = docs.sparkSession
    t = F.trim(F.col(text_col))
    words = (
        docs.filter(F.col(text_col).isNotNull() & (F.length(t) > 0))
        .select(F.explode(F.split(t, r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
        .select("w", "cnt", F.split("w", "").alias("syms"))
    )
    # r17 (r16 verdict next-round #5): the per-round cuts are LAZY —
    # each round's argmax collect is the first action over the round's
    # frame, so it materializes the cut INSIDE its own job instead of
    # paying a separate blocking count job per round (the same serial
    # job tax the r16 A/B measured on e06b's eager variant, here paid
    # k/batch times per training run). The lineage-cut property that
    # prevents the r11 analyzed-plan OOM is unchanged: lazy
    # localCheckpoint still replaces the logical plan with a leaf at
    # construction; only WHEN the blocks materialize moves. The
    # previous round's blocks are released one round LATE (after the
    # collect that materialized the new cut) so the chain never
    # recomputes through an already-released cache — the stage_cut
    # ordering contract.
    words = stage_cut(words, eager=False)
    release_after_collect: DataFrame | None = None
    if batch_max < 1:
        raise ValueError(f"batch_max must be >= 1, got {batch_max!r}")
    merges: list[tuple[int, str, str, int]] = []
    # greedy mode scans past incompatible pairs, so it needs a deeper
    # ranked window to actually fill a batch in incompatible-dense ranks
    top_l = max(64, (16 if not exact else 4) * batch_max)
    while len(merges) < k:
        n_pairs = F.greatest(F.size("syms") - F.lit(1), F.lit(0))
        pair = F.zip_with(
            F.slice("syms", F.lit(1), n_pairs),
            F.slice("syms", F.lit(2), n_pairs),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        rows = (
            words.select("cnt", F.explode(pair).alias("p"))
            .groupBy("p.l", "p.r").agg(F.sum("cnt").alias("c"))
            .filter(F.col("c") >= min_count)
            .orderBy(F.desc("c"), "l", "r")
            .limit(top_l)
            .collect()
        )
        # this collect materialized the current round's lazy cut, so the
        # PREVIOUS round's blocks are now safe to release
        if release_after_collect is not None:
            release_after_collect.unpersist()
            release_after_collect = None
        if not rows:
            break
        cap = min(batch_max, k - len(merges))
        accepted = [(rows[0]["l"], rows[0]["r"], int(rows[0]["c"]))]
        if exact:
            # Fused-string COLLISION guard: a merge whose fused string
            # equals a symbol minted in an earlier round re-mints an
            # existing symbol, so its application can ADD count to
            # existing pairs containing that symbol — pairs the barrier
            # bound (which covers only newly-created pairs) does not
            # cover. Such a merge is still safe as the LAST member of
            # its batch (its creations only affect later picks, which
            # the next round recomputes from scratch), so it closes the
            # batch instead of being skipped.
            prior_fused = {l + r for _, l, r, _ in merges}
            stop_accepting = (rows[0]["l"] + rows[0]["r"]) in prior_fused
            barrier = None
            for row in rows[1:]:
                p = (row["l"], row["r"])
                if not _bpe_compatible(p, [(a, b) for a, b, _ in accepted]):
                    barrier = int(row["c"])  # first incompatible = max bound
                    break
                if not stop_accepting and len(accepted) < cap:
                    accepted.append((p[0], p[1], int(row["c"])))
                    if (p[0] + p[1]) in prior_fused:
                        stop_accepting = True
                # past the cap (or post-collision): keep scanning only
                # to locate the barrier
            if barrier is None and len(rows) == top_l:
                barrier = int(rows[-1]["c"])  # tail can't exceed this
            if barrier is not None:
                accepted = accepted[:1] + [m for m in accepted[1:]
                                           if m[2] > barrier]
        else:
            # greedy max-compatible-set: skip incompatible pairs instead
            # of stopping at them (they stay for later rounds); the
            # within-batch disjointness the one-pass fold needs still
            # holds by construction.
            for row in rows[1:]:
                if len(accepted) >= cap:
                    break
                p = (row["l"], row["r"])
                if _bpe_compatible(p, [(a, b) for a, b, _ in accepted]):
                    accepted.append((p[0], p[1], int(row["c"])))
        for lhs, rhs, c in accepted:
            merges.append((len(merges), lhs, rhs, c))

        # ONE pass applies the whole batch: the (last, current) pair is
        # looked up in a literal map instead of a depth-|batch| when
        # chain — expression depth stays O(1) in batch size, so greedy
        # mode can raise batch_max without Catalyst analysis blowing up
        # (the bpe_encode unroll lesson). STRUCT keys, not string
        # concatenation: corpus symbols may contain any separator byte,
        # and a (lhs, rhs) struct cannot alias across the boundary.
        # Each (last, s) matches at most one rule (duplicate lhs or rhs
        # within a batch is symbol-sharing → incompatible → excluded),
        # so lookup order is immaterial and the map keys are unique.
        pairs_map = F.create_map(*[
            x for lhs, rhs, _ in accepted
            for x in (F.struct(F.lit(lhs).alias("l"), F.lit(rhs).alias("r")),
                      F.lit(lhs + rhs))
        ])

        def _fold_step(acc, s):
            key = F.struct(F.try_element_at(acc, F.lit(-1)).alias("l"),
                           s.alias("r"))
            fused = F.try_element_at(pairs_map, key)
            return F.when(
                fused.isNotNull(),
                F.concat(F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)),
                         F.array(fused)),
            ).otherwise(F.concat(acc, F.array(s)))

        merged = F.aggregate(
            "syms", F.array().cast("array<string>"), _fold_step)
        release_after_collect = words
        words = stage_cut(words.withColumn("syms", merged), eager=False)
    if release_after_collect is not None:
        release_after_collect.unpersist()
    words.unpersist()
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count long")


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_unrolled_merges: int = 64,
) -> DataFrame:
    """Apply a learned merge table (:func:`bpe_train`'s output) to a
    corpus: per doc, whitespace words → char symbols → every merge
    replayed in rank order (the standard BPE encode), returning
    ``(id, n_words, n_symbols)`` — the compression the learned
    vocabulary achieves, the metric a tokenizer-training pipeline
    watches per corpus slice.

    The merge table is tiny (k rows) and COLLECTED to the driver. Up to
    ``max_unrolled_merges`` rules it is unrolled into a single chained
    column expression — k nested folds over each word's symbol array,
    all JVM-side whole-stage codegen; no join, no shuffle beyond the
    final per-doc agg (group key is the doc id — unskewable). Catalyst
    analysis/codegen cost grows with expression DEPTH, so the unroll has
    a practical k ceiling: past ``max_unrolled_merges`` (default 64,
    comfortably under where tree-walk cost dominates) the SAME greedy
    left-to-right pass-per-rule runs as an Arrow-batched ``mapInPandas``
    kernel with the merge list riding in the closure — per-batch the
    kernel encodes each DISTINCT word once, so a realistic 32k-merge
    vocabulary costs O(distinct words × rules-touched) Python work
    instead of a depth-32k Catalyst tree. Both routes are pass-for-pass
    identical (pinned by tests), so the choice is purely a cost model.
    """
    ranked = sorted(
        ((r["merge_rank"], r["lhs"], r["rhs"]) for r in merges.collect()))
    t = F.trim(F.col(text_col))
    word_df = (
        docs.filter(F.col(text_col).isNotNull() & (F.length(t) > 0))
        .select(F.col(id_col), F.explode(F.split(t, r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
    )
    def _merge_fold(lhs: str, rhs: str):
        fused = F.concat(F.lit(lhs), F.lit(rhs))

        def step(acc, s):
            return F.when(
                (F.try_element_at(acc, F.lit(-1)) == F.lit(lhs))
                & (s == F.lit(rhs)),
                F.concat(F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)),
                         F.array(fused)),
            ).otherwise(F.concat(acc, F.array(s)))

        return step

    if len(ranked) <= max_unrolled_merges:
        syms = F.split("w", "")
        for _, lhs, rhs in ranked:
            syms = F.aggregate(syms, F.array().cast("array<string>"),
                               _merge_fold(lhs, rhs))
        sized = word_df.select(F.col(id_col), F.size(syms).alias("n_syms"))
    else:
        rules = [(lhs, rhs) for _, lhs, rhs in ranked]

        def _encode_batches(batches):
            import pandas as pd

            def n_syms(word: str) -> int:
                syms = list(word)
                for lhs, rhs in rules:
                    out = []
                    for s in syms:
                        if out and out[-1] == lhs and s == rhs:
                            out[-1] = lhs + rhs
                        else:
                            out.append(s)
                    syms = out
                return len(syms)

            for pdf in batches:
                if not len(pdf):
                    continue
                # encode each distinct word in the batch once
                sizes = {w: n_syms(w) for w in pdf["w"].unique()}
                yield pd.DataFrame({
                    id_col: pdf[id_col].to_numpy(),
                    "n_syms": pdf["w"].map(sizes).astype("int32"),
                })

        sized = word_df.mapInPandas(
            _encode_batches, schema=f"{id_col} long, n_syms int")
    return (
        sized.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_words"),
             F.sum("n_syms").cast("long").alias("n_symbols"))
    )


def bpe_vocab(docs: DataFrame, merges: DataFrame,
              text_col: str = "text") -> DataFrame:
    """The (token, token_id) table a trained BPE tokenizer ships:
    base vocabulary = every distinct character the corpus's whitespace
    words contain, id'd by sorted (binary) order — deterministic across
    runs and partitionings; learned vocabulary = each merge's fused
    string at ``base_size + merge_rank``, mirroring how production BPE
    tokenizers (Sennrich reference implementation, GPT-2) number
    merges after the base alphabet.

    One corpus pass (distinct chars — a ≤vocabulary-sized agg), then a
    driver-side offset join on the tiny merge table. Output columns:
    ``token string, token_id int``. The global row_number window runs
    over the DISTINCT-CHARACTER table (≤ alphabet-sized), so the
    single-reducer sort it implies is bounded, never corpus-bounded.

    Token↔id is a BIJECTION: two merges can fuse to the same string —
    (a,bc) and (ab,c) both yield 'abc', which ``_bpe_compatible``
    permits — so fused tokens are deduplicated keeping the LOWEST
    merge_rank (the id a consumer replaying merges in order reaches
    first), instead of silently shipping a two-ids-one-token table
    (ADVICE r12). Fused strings are ≥2 chars, so base-vs-fused
    collisions are impossible by construction.
    """
    from pyspark.sql import Window

    t = F.trim(F.col(text_col))
    chars = (
        docs.filter(F.col(text_col).isNotNull() & (F.length(t) > 0))
        .select(F.explode(F.split(t, r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .select(F.explode(F.split("w", "")).alias("token"))
        .distinct()
    )
    w = Window.orderBy("token")
    base = chars.select(
        "token", (F.row_number().over(w) - F.lit(1)).cast("int").alias("token_id"))
    n_base = base.count()
    fused = (
        merges.select(F.concat("lhs", "rhs").alias("token"), "merge_rank")
        .groupBy("token").agg(F.min("merge_rank").alias("merge_rank"))
        .select(
            "token",
            (F.col("merge_rank") + F.lit(n_base)).cast("int").alias("token_id"))
    )
    return base.unionByName(fused)


def bpe_encode_ids(
    docs: DataFrame,
    merges: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = -1,
) -> DataFrame:
    """Full tokenizer ENCODE — the artifact a training-data pipeline
    actually emits: per document, whitespace words → char symbols →
    every merge replayed in rank order (the same greedy left-to-right
    pass :func:`bpe_encode` counts) → symbols mapped to ids through
    ``vocab`` (:func:`bpe_vocab`'s output; characters unseen at vocab
    build time get ``unk_id``). Output: ``(id, token_ids array<int>,
    n_tokens)`` with token order preserved across word boundaries.

    Plan shape: the merge table and vocab ride in the Arrow kernel's
    closure (both vocabulary-sized — broadcast-class); words keep
    their in-document position through ``posexplode`` so the one
    shuffle (the per-doc reassembly agg, keyed by the unskewable doc
    id) can restore order with ``array_sort`` on (pos, ids) structs
    and flatten. Each DISTINCT word per Arrow batch is encoded once,
    the bpe_encode kernel-route economics."""
    rules = [(r["lhs"], r["rhs"]) for r in sorted(
        merges.collect(), key=lambda r: r["merge_rank"])]
    tok2id = {r["token"]: r["token_id"] for r in vocab.collect()}
    t = F.trim(F.col(text_col))
    word_df = (
        docs.filter(F.col(text_col).isNotNull() & (F.length(t) > 0))
        .select(F.col(id_col), F.posexplode(F.split(t, r"\s+")).alias("pos", "w"))
        .filter(F.length("w") > 0)
    )

    def _encode_batches(batches):
        import pandas as pd

        def ids(word: str):
            syms = list(word)
            for lhs, rhs in rules:
                out = []
                for s in syms:
                    if out and out[-1] == lhs and s == rhs:
                        out[-1] = lhs + rhs
                    else:
                        out.append(s)
                syms = out
            return [tok2id.get(s, unk_id) for s in syms]

        for pdf in batches:
            if not len(pdf):
                continue
            enc = {w: ids(w) for w in pdf["w"].unique()}
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "pos": pdf["pos"].to_numpy(),
                "ids": pdf["w"].map(enc),
            })

    encoded = word_df.mapInPandas(
        _encode_batches, schema=f"{id_col} long, pos int, ids array<int>")
    per_doc = (
        encoded.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "ids"))).alias("__ws"))
        .select(
            F.col(id_col),
            F.flatten(F.transform("__ws", lambda s: s["ids"])).alias("token_ids"))
    )
    return per_doc.withColumn("n_tokens", F.size("token_ids"))


def bpe_decode(
    ids_df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    ids_col: str = "token_ids",
) -> DataFrame:
    """Tokenizer DECODE — ids back to text, the inverse of
    :func:`bpe_encode_ids`: each id looks up its token string in
    ``vocab`` and the tokens concatenate in sequence order. Because
    merges fuse only within whitespace words, the decode of a full
    document is the concatenation of its (pre-tokenized) words — the
    roundtrip law ``decode(encode(x)) == concat(words(x))`` that the
    x38b oracle checks end-to-end.

    Plan shape: ``posexplode`` keeps sequence order; the vocab join is
    an explicit broadcast (the vocab is alphabet+merges sized); the one
    shuffle is the per-doc reassembly agg keyed by the unskewable doc
    id, order restored with ``array_sort`` on (pos, token) structs.
    Unknown ids (possible only when encode ran with ``unk_id`` against
    an out-of-vocab corpus) decode to the empty string rather than
    poisoning the whole document NULL.
    """
    toks = ids_df.select(
        F.col(id_col), F.posexplode(ids_col).alias("pos", "token_id"))
    joined = toks.join(F.broadcast(vocab), "token_id", "left")
    return (
        joined.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(
            F.struct("pos", F.coalesce("token", F.lit("")).alias("token")))).alias("__ts"))
        .select(
            F.col(id_col),
            F.concat_ws("", F.transform("__ts", lambda s: s["token"])).alias("text_decoded"))
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int,
    stride: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking — the context-window prep step
    for pretraining / retrieval corpora: fixed ``chunk_size``-char
    windows starting every ``stride`` chars (overlapping when
    ``stride < chunk_size``), the final window clipped at the document
    end. Chunk starts are ``i*stride`` for ``i in 0..ceil((len -
    chunk_size) / stride)`` (one chunk when ``len <= chunk_size``), so
    every character lands in at least one chunk and the chunk count is
    pure integer arithmetic — deterministic and oracle-expressible.

    Plan shape: one projection + explode over the scan, no shuffle, no
    Python — ``sequence``/``transform`` build the window starts
    JVM-side, so at 100 TB this is scan-rate chunking.
    """
    t = F.trim(F.col(text_col))
    n = F.length(t)
    # integer ceil((n - size) / stride) without float rounding
    last = F.greatest(
        F.lit(0),
        F.floor((n - F.lit(chunk_size) + F.lit(stride) - 1) / F.lit(stride))
        .cast("long"),
    )
    out = (
        df.filter(F.col(text_col).isNotNull() & (n > 0))
        .select(
            F.col(id_col),
            t.alias("__t"),
            F.posexplode(F.sequence(F.lit(0), last)).alias("chunk_id", "__i"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("int").alias("chunk_id"),
            (F.col("__i") * stride + 1).cast("long").alias("chunk_start"),
            F.substring(F.col("__t"), F.col("__i").cast("int") * stride + 1,
                        chunk_size).alias("chunk_text"),
        )
    )
    return out.withColumn("n_chunk_chars",
                          F.length("chunk_text").cast("long"))


def global_line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide line-level dedup with document reconstruction — the
    C4 "discard duplicate lines across the whole corpus" pass (Raffel
    et al. 2020 §2.2 keep-one-occurrence): a non-empty line survives
    iff it is the canonical (lowest ``(doc_id, pos)``) occurrence of
    its exact text anywhere in the corpus; each document is rebuilt
    from its surviving lines in original order. Documents whose lines
    all lose are dropped.

    Output: ``(id, n_lines, n_kept, text_dedup)``.

    Plan shape: the canonical-occurrence window shuffles on
    ``md5(line)`` — 16-byte exchange keys instead of full line text,
    the d01 economics; grouping is equivalent (the oracle's PARTITION
    BY line agrees on this data, collisions negligible). The rebuild
    is one agg keyed by the unskewable doc id with ``array_sort`` on
    (pos, line) structs. Two shuffles total, both linear.
    """
    lines = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col),
                F.posexplode(F.split(text_col, "\n")).alias("pos", "line"))
        .filter(F.length(F.trim("line")) > 0)
    )
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("line")).orderBy(id_col, "pos")
    flagged = lines.withColumn("rn", F.row_number().over(w))
    keep = (F.col("rn") == 1).cast("long")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(keep).alias("n_kept"),
            F.array_sort(F.collect_list(
                F.when(F.col("rn") == 1, F.struct("pos", "line")))).alias("__ks"),
        )
        .filter(F.col("n_kept") >= 1)
        .select(
            F.col(id_col), "n_lines", "n_kept",
            F.concat_ws("\n", F.transform("__ks", lambda s: s["line"]))
            .alias("text_dedup"),
        )
    )


def epoch_upsample(
    df: DataFrame,
    epochs: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    buckets: int = 100,
) -> DataFrame:
    """Fractional-epoch source upsampling — the data-mixing recipe that
    says "source A is seen 2.5 epochs, source B 0.4" (the
    LLaMA/GPT-style sampling-weight table, materialized): each doc
    emits ``floor(e)`` copies plus one more iff its deterministic
    ``hash_bucket`` falls under the fractional remainder, so EXACTLY
    the requested fraction of each source repeats (per md5 bucket, not
    per RNG draw) — reproducible across engines, runs, and
    partitionings, and ``e < 1`` downsamples the same way. Sources
    absent from ``epochs`` default to 1.0 (pass-through).

    Output: input columns + ``epoch`` (0-based copy index) and
    ``n_copies``; docs with 0 copies disappear.

    Plan shape: the epoch table is config-sized, so it compiles into
    when-chain literals — one Generate over the scan, no shuffle, no
    join. Scan-rate at 100 TB.
    """
    src = F.col(source_col)
    base, thr = F.lit(1), F.lit(0)
    for s, e in sorted(epochs.items()):
        whole = int(e)
        # half-UP, not Python round()'s banker's rounding: a recipe like
        # 1.125 with buckets=100 scales to 12.5 and must mean 13, the
        # way a hand-written oracle rounds — half-even would silently
        # disagree on every .5-scaled fraction. The scaled fraction is
        # snapped to 6 decimals first: raw float arithmetic gives e.g.
        # 1.015 → (e-whole)*100 = 1.4999999999999902, which would
        # half-up to 1 where a decimal oracle computes 2.
        frac_thr = int(math.floor(round((e - whole) * buckets, 6) + 0.5))
        base = F.when(src == s, F.lit(whole)).otherwise(base)
        thr = F.when(src == s, F.lit(frac_thr)).otherwise(thr)
    n = (base + (hash_bucket(F.col(id_col)) < thr).cast("int")).cast("int")
    out = df.withColumn("n_copies", n).filter(F.col("n_copies") > 0)
    return out.withColumn(
        "epoch",
        F.explode(F.sequence(F.lit(0), F.col("n_copies") - 1)),
    )
