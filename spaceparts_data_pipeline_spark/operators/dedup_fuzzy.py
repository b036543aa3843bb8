"""Fuzzy / near-duplicate detection operators for document corpora.

Four families, all expressed on DataFrame primitives (no Python row
loops — higher-order array functions + joins, so they distribute):

- exact dedup: hash-groupBy canonicalization (see also queries d01)
- n-gram Jaccard: exact set similarity via a shingle self-join
- MinHash + LSH: shingle → k min-hashes → bands → bucket join; the
  scale path (linear in corpus size, no all-pairs product)
- SimHash: 64-bit bit-vote signature; hamming-close pairs are near-dups

Scale notes: the shingle self-join (exact Jaccard) is quadratic in
bucket size and only usable below ~10^5 docs or after LSH bucketing;
MinHash/LSH is the 100 TB path — its only shuffles are the band
group-bys, and band hashes distribute uniformly by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spaceparts_data_pipeline_spark.operators.lineage import stage_cut


def tokens_col(text_col: str = "text"):
    t = F.trim(F.col(text_col))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def _shingle_expr(k: int):
    """DISTINCT word-``k``-gram shingle ARRAY expression over a
    projected token column ``__t`` — the ONE shared construction both
    shingle shapes build on (:func:`word_shingles` explodes it; the det
    MinHash twin via :func:`shingle_arrays` hashes it in place), so
    tokenization can never silently drift between the xxhash64 path and
    its SQL-replayable md5 twin (their pinned admit-set equality assumes
    identical shingles). One ``concat_ws`` per shingle over the
    projected ``__t`` (never re-split per element — the O(tokens²)
    lambda trap; and NOT the ``zip_with``-chain shape, which rebuilds
    each gram's string k−1 times: measured 2× on the single-file bench
    layout).

    PARTIAL on short docs: ``sequence(0, size-k)`` DESCENDS when
    ``size < k`` and the ``element_at`` indices go ≤ 0 — every caller
    must keep its ``size(__t) >= k`` filter fused in the same frame
    (pinned by the empty-doc rows in tests/test_llm_ops.py
    TestFuzzyDedup)."""
    return F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.size("__t") - k),
        lambda i: F.concat_ws(" ", *[F.element_at("__t", (i + j + 1).cast("int")) for j in range(k)]),
    ))


def shingle_arrays(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                   k: int = 3, out_col: str = "__sh") -> DataFrame:
    """(id, DISTINCT word-k-gram shingle ARRAY) per document — the
    array-shaped consumer of :func:`_shingle_expr` (the det MinHash twin
    hashes the array in place, map-side).

    The array output additionally rides a ``when(size >= k, ...)``
    totality guard: downstream plans are free to evaluate the projected
    array expression beside — not above — the row filter
    (infer-filters-from-generate + predicate pushdown merge filters, and
    codegen subexpression hoisting defeats AND short-circuiting), which
    crashed the unguarded form on short docs. The guard is free HERE;
    on the EXPLODED shape it forces the generator out of the fast path
    (measured 0.7 s → 17 s on d07), which is why :func:`word_shingles`
    keeps the original fused filter+explode form instead of wrapping
    this function."""
    toks = tokens_col(text_col)
    with_t = df.select(F.col(id_col), toks.alias("__t")).filter(F.size("__t") >= k)
    total = F.when(F.size("__t") >= k, _shingle_expr(k)) \
        .otherwise(F.array().cast("array<string>"))
    return with_t.select(F.col(id_col), total.alias(out_col))


def word_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles per document: (id, shingle).

    Dedup happens BEFORE the explode via ``array_distinct`` on the
    per-document shingle array (:func:`_shingle_expr`): duplicate
    shingles only ever occur within one document, so this is exactly
    equivalent to a global ``.distinct()`` on (id, shingle) — but it is
    pure map-side codegen, where the post-explode distinct was a full
    shuffle of raw shingle strings paid by EVERY shingle consumer
    (exact Jaccard, MinHash, contamination, canonical corpus). Measured
    at 8× sf0.1: x29's shuffle dropped 46.5 → 4.2 MB (11×); d07 loses
    the exchange but its bytes were already dominated by the
    (incompressible) signature shuffle (SCALING.md).

    The filter and the exploded expression stay FUSED in one frame (the
    shape that has run green since round 7): wrapping the guarded
    array helper here pushed the generator off the fast path (0.7 s →
    17 s on d07's bench) — see :func:`shingle_arrays` for the guard
    rationale on the array shape.
    """
    toks = tokens_col(text_col)
    with_t = df.select(F.col(id_col), toks.alias("__t")).filter(F.size("__t") >= k)
    return with_t.select(F.col(id_col), F.explode(_shingle_expr(k)).alias("shingle"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact word-k-gram Jaccard similar pairs (id_a < id_b, jaccard ≥
    threshold). Self-join on shingle; count intersections; divide by
    union size.

    r17 plan change (r16 verdict next-round #3 — d13 step-profiled,
    OPTIMIZATION_r17.md): the tokenize+shingle construction runs
    ONCE into a materialized (id, shingle-array) base (``stage_cut``,
    the d14 ``_minhash_base`` precedent) and the three consumers (both
    self-join sides + the per-doc counts) derive from the leaf — the
    executed plan previously re-tokenized the corpus 3×. Per-doc counts
    become ``size()`` on the array (map-side; the exploded
    ``groupBy(id).count()`` pass and its exchange are gone). Measured
    interleaved min-of-8 at sf0.1: pairs 3.63→2.73 s, full d13
    7.12→5.49 s, pair sets bit-identical (590 pairs, equality-gated);
    a no-cut counts-from-array hybrid measured 3× WORSE (the probe's
    rejected shape) — the cut is what pays, not the count rewrite.
    At 100 TB this is 3 corpus text passes → 1."""
    base = stage_cut(shingle_arrays(df, id_col, text_col, k))
    sh = base.select(F.col(id_col), F.explode("__sh").alias("shingle"))
    counts = base.select(F.col(id_col), F.size("__sh").alias("n"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, (a["shingle"] == b["shingle"]) & (a["id_a"] < b["id_b"]))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    out = (
        inter.join(ca, "id_a").join(cb, "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "inter", "jaccard")


def _sig_mins(num_perm: int):
    """The ``num_perm`` per-seed MinHash aggregate expressions over an
    exploded ``shingle`` column — ONE definition shared by
    :func:`minhash_signatures` and :func:`_minhash_base` so the seeded
    hash inputs can never drift between the direct and the shared-base
    paths."""
    return [F.min(F.xxhash64(F.lit(seed), F.col("shingle"))).alias(f"h{seed}")
            for seed in range(num_perm)]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
) -> DataFrame:
    """MinHash signature per document: for each of ``num_perm`` seeded
    hash functions, the min xxhash64 over the document's shingles.
    Output: (id, sig array<bigint>). One shuffle (groupBy id).

    Shape note (r16, measured): this stays the explode →
    ``groupBy(id).agg(min(xxhash64(seed, shingle)))`` form. A map-side
    rewrite (nested ``transform``/``array_min`` over the shingle array,
    zero exchange) is value-identical but 9× SLOWER on the bench
    (d07 0.7 s → 6.3 s): higher-order-function lambdas evaluate
    per-element outside whole-stage codegen, while the exploded shape
    is fully codegen'd with vectorized partial aggregation — the same
    expression-shape cliff family SCALING.md round 16 (late) records
    for the shingle construction itself. Partial (map-side) aggregation
    means the exchange carries one row per doc, not per shingle."""
    sh = word_shingles(df, id_col, text_col, k)
    agg = sh.groupBy(id_col).agg(*_sig_mins(num_perm))
    return agg.select(F.col(id_col), F.array(*[f"h{s}" for s in range(num_perm)]).alias("sig"))


def band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 2,
) -> DataFrame:
    """LSH band table: (id, band, bucket) — one row per document per
    band, bucket = xxhash64 of that band's signature slice. The shared
    currency of every MinHash consumer here: self-joined for pair
    finding (:func:`minhash_lsh_pairs`), persisted as the signature
    store for cross-run screening (:func:`incremental_near_dedup`)."""
    sig = minhash_signatures(df, id_col, text_col, k, num_perm)
    return _band_explode(sig, id_col, num_perm, rows_per_band)


def _band_explode(sig_df: DataFrame, id_col: str, num_perm: int,
                  rows_per_band: int) -> DataFrame:
    """(id, sig array) → (id, band, bucket): one row per band, bucket =
    xxhash64 of the band's signature slice. Shared by every band-table
    consumer so the banding geometry can never drift between the
    direct path and the shared-base path."""
    n_bands = num_perm // rows_per_band
    return sig_df.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(*[F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]).alias("bucket"),
                )
                for b in range(n_bands)
            ])
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _pairs_from_bands(bands: DataFrame, id_col: str) -> DataFrame:
    """Band-table self-join → candidate pairs (id_a < id_b, n_bands)."""
    a = bands.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def _minhash_base(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    reliable: bool = False,
) -> DataFrame:
    """ONE materialized tokenize+shingle+hash pass for the composed LSH
    pipelines: (id, sig array<long>, __hs array<long>) where ``sig`` is
    the MinHash signature and ``__hs`` the distinct shingle-hash set —
    both produced by a SINGLE explode → combined ``groupBy(id)``
    aggregation (the per-seed mins and the ``collect_set`` share one
    exchange; see :func:`minhash_signatures` for why the exploded shape
    beats the map-side array rewrite 9×).

    r16 optimization (guide §2.4/§8 — compute heavy bytes once, reuse
    the narrow proxy): the d14/d16 pipelines consumed the shingle
    construction FOUR+ times per run (signature pass per self-join
    side, a collect_set verify-set pass per join side, and d16 repeated
    it for the admitted band table) — the executed d14 plan scanned the
    corpus 4x. This base is ``stage_cut`` (localCheckpoint — the
    connected-components precedent), so each downstream consumer reads
    a narrow LogicalRDD (~8 B/shingle + 8 B/perm per doc) instead of
    re-tokenizing text. Values are bit-identical; only the number of
    passes changes. The cut is EAGER and runs inside the callers'
    timed/rebuilt region (bench times these queries with
    rebuild=True), so no work escapes the measurement."""
    sh = word_shingles(df, id_col, text_col, k)
    agg = sh.groupBy(id_col).agg(
        *_sig_mins(num_perm),
        F.collect_set(F.xxhash64(F.col("shingle"))).alias("__hs"),
    )
    base = agg.select(
        F.col(id_col),
        F.array(*[f"h{s}" for s in range(num_perm)]).alias("sig"),
        F.col("__hs"),
    )
    from spaceparts_data_pipeline_spark.operators.lineage import stage_cut

    return stage_cut(base, reliable=reliable)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 2,
) -> DataFrame:
    """LSH candidate pairs: band the signature (num_perm/rows_per_band
    bands), bucket-join on (band, band-hash). Returns (id_a, id_b,
    n_bands) — pairs colliding in ≥1 band, id_a < id_b.

    The scale path for corpus dedup: no all-pairs product; cost is
    Σ bucket² which stays small for well-distributed hashes.

    WHICH TWIN TO USE: this xxhash64 path is the THROUGHPUT default —
    measured ~5× faster than :func:`minhash_lsh_pairs_det` at sf0.1
    (1.5 s vs 7.3 s; md5 string-hashing per shingle × perm dominates
    the det twin). Pick the det twin only when the signatures/pair list
    must be reproducible OUTSIDE Spark (cross-engine audits, the DuckDB
    value oracle); both share the banding geometry and plan shape, and
    their admit sets are pinned equal by tests. (SCALING.md round 14.)
    """
    bands = band_table(df, id_col, text_col, k, num_perm, rows_per_band)
    return _pairs_from_bands(bands, id_col)


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 10,
    checkpoint: str = "local",
) -> DataFrame:
    """Cluster near-dup pairs into components by iterative min-label
    propagation with pointer jumping: each round every node takes the
    min label among itself and its neighbors, then follows the new
    label one step (label := label-of-label). The jump doubles the
    distance a min label covers per round, so convergence is
    O(log diameter) rounds instead of O(diameter) — a 2^max_iter-long
    chain still resolves within ``max_iter`` rounds (pinned by the
    union-find property test in tests/test_llm_ops.py).

    Output: (id, component) where component = min id in the component.
    Each iteration is two shuffles (join + groupBy). Labels only ever
    DECREASE, so convergence is detected by an exact decimal label-sum
    staying flat — one map-side-combinable agg per round instead of an
    anti-join.

    The loop runs over EDGE-TOUCHING nodes only: an isolated node (no
    incident pair) can neither give nor receive a label, so its
    component is itself, finally, before the first round. Near-dup
    graphs are sparse — in a 100 TB corpus the overwhelming majority
    of documents are isolated — so this turns per-round cost from
    O(corpus) to O(nodes-in-pairs) and the isolated identity labels
    are attached once at the end with no shuffle beyond the semi/anti
    split.

    Lineage MUST be cut, not just cached, every round: each iteration's
    plan references the previous labels twice (union + join), so the
    *analyzed* plan doubles per round — ``persist`` alone leaves 2^k
    copies of the upstream pair-generator plan in the logical tree and
    OOMs the driver during CacheManager plan normalization long before
    any data is large (observed at 5k docs / 590 edges with a
    shingle-self-join upstream). ``localCheckpoint`` materializes the
    round AND replaces the plan with a LogicalRDD, keeping plan size
    O(1) in iterations; ``edges`` is likewise materialized once instead
    of re-deriving the pair generator every round.

    ``checkpoint``: ``"local"`` (default) stores round snapshots on
    executor block managers — fastest, but a lost executor makes them
    unrecoverable, aborting the job. On a long multi-hour cluster run
    pass ``"reliable"`` to write rounds through the SparkContext
    checkpoint dir (``sc.setCheckpointDir`` — HDFS/object store), which
    survives executor loss at the cost of one fs round-trip per
    iteration; the algorithm and its results are identical.
    """
    from spaceparts_data_pipeline_spark.operators.lineage import stage_cut

    if checkpoint not in ("local", "reliable"):
        raise ValueError(f"checkpoint must be 'local' or 'reliable', got {checkpoint!r}")
    # r17: the cuts are LAZY (the x37 trainer lesson, r16 verdict #5's
    # serial-job tax): every cut frame's FIRST action is the label-sum
    # convergence collect right below it, which materializes the cut
    # inside its own job — previously each round paid a separate eager
    # blocking job before the collect (2 driver jobs per round → 1;
    # measured on d13/d14/d16, OPTIMIZATION_r17.md). The
    # lineage-cut property is unchanged (a lazy localCheckpoint still
    # replaces the logical plan with a leaf at construction — the
    # analyzed-plan-doubling OOM guard). Round blocks are still freed
    # by the ContextCleaner when the last reference drops.
    _cut = lambda df: stage_cut(df, eager=False,  # noqa: E731
                                reliable=(checkpoint == "reliable"))
    edges = _cut(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    all_ids = ids.select(F.col(id_col).alias("src"))
    labels = _cut(
        all_ids.join(edges.select("src").distinct(), "src", "left_semi")
        .select("src", F.col("src").alias("component"))
    )
    # exact (overflow-free) sum: strictly decreases while any label moves
    _sig = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]
    prev_sig = _sig(labels)
    for _ in range(max_iter):
        neighbor_labels = (
            edges.join(labels, "src")
            .select(F.col("dst").alias("src"), "component")
        )
        gathered = (
            labels.unionByName(neighbor_labels)
            .groupBy("src")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump: component := gathered label OF the component.
        # Every component id is itself an active node (labels start as
        # identity over the active set and only take values from it),
        # so the lookup always resolves; coalesce guards the self-row.
        jump = gathered.select(
            F.col("src").alias("__c"), F.col("component").alias("__cc"))
        new_labels = _cut(
            gathered.join(jump, gathered["component"] == jump["__c"], "left")
            .select("src", F.coalesce("__cc", "component").alias("component"))
        )
        sig = _sig(new_labels)
        labels = new_labels
        if sig == prev_sig:
            break
        prev_sig = sig
    # Isolated nodes (never touched a pair) are their own component —
    # attached once, after the loop. Labels are a self-contained
    # LogicalRDD; the ContextCleaner frees each round's blocks once the
    # last reference drops.
    isolated = (
        all_ids.join(edges.select("src").distinct(), "src", "left_anti")
        .select("src", F.col("src").alias("component"))
    )
    return (
        labels.unionByName(isolated)
        .select(F.col("src").alias(id_col), "component")
    )


def dedup_corpus(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    checkpoint: str = "local",
) -> DataFrame:
    """Drop near-duplicates: keep only the canonical (min-id) document of
    each connected component of the pair graph."""
    comps = connected_components(pairs, df.select(id_col), id_col, checkpoint=checkpoint)
    keep = comps.filter(F.col(id_col) == F.col("component")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: per-token xxhash64, bit-votes summed
    per bit, sign → bit. Output: (id, simhash bigint).

    Implemented as explode(tokens) → 64 conditional sums → bit
    reassembly; one shuffle on id.
    """
    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    h = F.xxhash64("tok")
    votes = [
        F.sum(F.when(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    # Reassemble: sum of 2^b for positive-vote bits (signed 64-bit wrap for b=63).
    bit_terms = [
        F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long") * F.lit(2 ** b if b < 63 else -(2 ** 63)).cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ]
    total = bit_terms[0]
    for t in bit_terms[1:]:
        total = total + t
    return agg.select(F.col(id_col), total.alias("simhash"))


def simhash_near_pairs(sim: DataFrame, id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, bucketed by the 4
    16-bit quarters (a pair within hamming ≤3 of 64 bits must agree on
    ≥1 quarter — pigeonhole), avoiding the all-pairs product."""
    quarters = [
        (F.shiftrightunsigned(F.col("simhash"), 16 * q).bitwiseAND(F.lit(0xFFFF))).alias(f"q{q}") for q in range(4)
    ]
    with_q = sim.select(F.col(id_col), F.col("simhash"), *quarters)
    pairs = None
    for q in range(4):
        a = with_q.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), F.col(f"q{q}").alias("qq"))
        b = with_q.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), F.col(f"q{q}").alias("qq"))
        p = a.join(b, "qq").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b", "sh_a", "sh_b")
        pairs = p if pairs is None else pairs.unionByName(p)
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.distinct()
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def canonical_corpus(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 10,
    checkpoint: str = "local",
) -> DataFrame:
    """Near-duplicate REMOVAL: one canonical document per connected
    component of the near-dup pair graph (the min-id member), returned
    with the input's full schema — the "deduplicated corpus" a training
    pipeline actually feeds downstream, vs d09's per-doc labeling.

    Shape: :func:`connected_components` (iterative min-label, bounded
    rounds) → filter label==id → LEFT SEMI join back to the corpus. The
    semi join ships only ids, never text; at 100 TB the components table
    is ids-only and the semi join broadcasts when the survivor set of a
    bucketed slice is small.
    """
    comp = connected_components(pairs, df.select(id_col), id_col=id_col,
                                max_iter=max_iter, checkpoint=checkpoint)
    keep = comp.filter(F.col(id_col) == F.col("component")).select(id_col)
    return df.join(keep, [id_col], "left_semi")


def verified_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    base: DataFrame | None = None,
    checkpoint: str = "local",
) -> DataFrame:
    """Exact-Jaccard similar pairs computed over LSH CANDIDATES only —
    the verify step of a production MinHash dedup pipeline.

    :func:`jaccard_pairs` is exact but all-pairs within shingle
    buckets (quadratic per hot shingle); :func:`minhash_lsh_pairs` is
    linear but approximate. This composes them: LSH proposes a
    candidate set that is ~linear in corpus size, then each candidate
    pair's TRUE Jaccard is computed by intersecting the two documents'
    shingle-hash sets, and pairs below ``threshold`` are discarded.
    False positives cost only the verify; false negatives are governed
    by the banding profile — at the defaults (16 perms × 2 rows = 8
    bands) a true pair at j=0.8 is missed with probability
    (1−0.8²)⁸ ≈ 3·10⁻⁴, and ``rows_per_band=1`` drives j=0.5 misses
    below 1e-4. MinHash seeds are fixed, so the output is
    deterministic run-to-run (just not expressible in ANSI SQL —
    xxhash64 — hence rows-only at the driver gate).

    Scale shape: shingle-hash sets ship ONLY for candidate pairs
    (O(candidates × avg shingles), not O(n²)); text never shuffles;
    the set intersection is a codegen'd ``array_intersect`` on bigint
    arrays.

    Output: (id_a, id_b, inter, jaccard) — the same schema as
    :func:`jaccard_pairs`, so every downstream consumer
    (:func:`connected_components`, :func:`canonical_corpus`) is
    generator-agnostic.

    r16 plan change (guide §2.4/§8): candidates AND verify sets now
    derive from ONE materialized :func:`_minhash_base` pass (``base``;
    built here when the caller doesn't share one), instead of four
    independent tokenize+hash passes (signature per self-join side +
    collect_set per verify side). The verify-set exchange
    (explode → collect_set) is gone — the hash set is computed inside
    the row from the same distinct-shingle array. Pair/jaccard values
    are bit-identical.
    """
    if base is None:
        base = _minhash_base(df, id_col, text_col, k, num_perm,
                             reliable=(checkpoint == "reliable"))
    cand = _pairs_from_bands(
        _band_explode(base, id_col, num_perm, rows_per_band), id_col)
    a = base.select(F.col(id_col).alias("id_a"), F.col("__hs").alias("__hs_a"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("__hs").alias("__hs_b"))
    inter = F.size(F.array_intersect("__hs_a", "__hs_b"))
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn("inter", inter.cast("long"))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("__hs_a") + F.size("__hs_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "jaccard")
    )


def canonical_corpus_lsh(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_iter: int = 10,
    checkpoint: str = "local",
    base: DataFrame | None = None,
) -> DataFrame:
    """The dedup pipeline a training corpus actually runs at 100 TB:
    MinHash-LSH candidates → exact-Jaccard verify on candidates only
    (:func:`verified_lsh_pairs`) → connected components → keep the
    min-id canonical per component. Same output contract as
    :func:`canonical_corpus` (full input schema, one survivor per
    near-dup cluster); the only difference is the pair generator —
    bounded-input exact self-join there, linear LSH here. Equality of
    the two survivor sets on the test fixtures is pinned in
    tests/test_llm_ops.py.

    ``base``: an already-materialized :func:`_minhash_base` of ``df``
    (same id/text/k/num_perm) to share the tokenize+hash pass with a
    surrounding pipeline (:func:`incremental_near_dedup` passes its
    batch base so the admitted band table never re-tokenizes text).
    """
    pairs = verified_lsh_pairs(df, id_col, text_col, k, num_perm,
                               rows_per_band, threshold, base=base,
                               checkpoint=checkpoint)
    return canonical_corpus(df, pairs, id_col=id_col, max_iter=max_iter,
                            checkpoint=checkpoint)


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Benchmark-contamination scan: for each corpus document, how many
    of its distinct word-``k``-gram shingles appear in ANY benchmark
    document (the n-gram-overlap decontamination check run before
    training on a corpus that might contain eval data).

    Output: (id, n_shared_shingles, contaminated). Every corpus doc
    appears — zero-overlap docs with 0/false.

    Scale shape: both sides reduce to DISTINCT md5(shingle) — the join
    and shuffle never carry text, and md5 is reproducible in ANSI SQL so
    the whole check admits a full value-hash oracle (unlike xxhash). The
    benchmark side (eval sets — thousands of docs, not billions) dedups
    to a narrow hash set that broadcasts; the corpus side is one
    explode + one semi-ish join + one groupBy, linear in corpus size.
    """
    c_sh = word_shingles(corpus, id_col, text_col, k).select(
        F.col(id_col), F.md5(F.col("shingle")).alias("__h")
    )
    b_sh = word_shingles(benchmark, id_col, text_col, k).select(
        F.md5(F.col("shingle")).alias("__h")
    ).distinct()
    # benchmark side is small BY CONTRACT (eval sets, not corpora) —
    # broadcast explicitly so the corpus side never shuffles for this
    # join at any scale, rather than relying on AQE to discover it
    shared = c_sh.join(F.broadcast(b_sh), ["__h"]).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shared_shingles")
    )
    return (
        corpus.select(id_col)
        .join(shared, [id_col], "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shared_shingles", F.lit(0)).alias("n_shared_shingles"),
        )
        .withColumn("contaminated", F.col("n_shared_shingles") > 0)
    )


def incremental_near_dedup(
    batch: DataFrame,
    band_store: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    max_iter: int = 10,
    checkpoint: str = "local",
) -> tuple[DataFrame, DataFrame]:
    """Cross-run NEAR-dup dedup — the FineWeb/RefinedWeb cross-dump
    pattern, and the near-dup twin of ``dedup.incremental_dedup``: each
    run admits only documents that are not near-duplicates of anything
    admitted by ANY prior run, without prior runs' text.

    1. within-batch: :func:`canonical_corpus_lsh` (LSH candidates →
       exact-Jaccard verify on candidates, text in hand → components →
       min-id canonical);
    2. cross-run screen: drop batch survivors whose signature collides
       with the band store in ANY band. This stage is a pure LSH
       decision — the store holds (band, bucket) rows (~24 B/doc·band),
       not text, so exact verification is impossible BY DESIGN; pick
       (num_perm, rows_per_band) for the wanted recall/precision point
       (the e03b pinned-profile pattern). An exact duplicate of a
       stored doc is ALWAYS screened: identical text → identical
       signature → collision in every band. At num_perm=32 /
       rows_per_band=4 (8 bands of 4 rows) the screen's admit set
       EQUALS the exact-Jaccard>=0.5 screen on the oracle fixtures —
       the property that gives the d16/s05 driver queries their
       exact-path value oracles (tests/test_llm_ops.py::
       test_incremental_near_dedup_equals_exact_screen); the default
       16/2 profile trades a few percent of low-J false screens for
       half the hashing.

    Returns ``(admitted, admitted_bands)`` — full-schema admitted rows
    plus their band table; append ``admitted_bands`` to the store
    (append-only is exact for the same reason as the md5 store: the
    screen is a semi-join, duplicates in the store change nothing).

    Scale shape: everything shuffles on 16-byte hashes or (band,
    bucket) pairs; the store side never rehydrates text; batch text
    moves scan→output only. Store growth is rows·n_bands — compact
    periodically with a distinct-rewrite if file count grows.

    r16 optimization (guide §2.4): the batch's tokenize+shingle+hash
    pass is materialized ONCE (:func:`_minhash_base`) and shared by the
    within-batch pipeline AND the admitted band table — previously
    ``band_table(admitted)`` re-tokenized every admitted document from
    text (a full extra hash pass per run at num_perm=32). The admitted
    band table is now the base's band explode semi-joined to the
    admitted ids — row-identical (bands are a deterministic function of
    text, and admitted ⊆ batch).
    """
    base = _minhash_base(batch, id_col, text_col, k, num_perm,
                         reliable=(checkpoint == "reliable"))
    admitted = canonical_corpus_lsh(
        batch, id_col, text_col, k, num_perm, rows_per_band, threshold,
        max_iter=max_iter, checkpoint=checkpoint, base=base,
    )
    bands = _band_explode(base, id_col, num_perm, rows_per_band).join(
        admitted.select(id_col), [id_col], "left_semi")
    if band_store is not None:
        hit_ids = (
            bands.join(band_store.select("band", "bucket"), ["band", "bucket"], "left_semi")
            .select(id_col).distinct()
        )
        admitted = admitted.join(hit_ids, id_col, "left_anti")
        bands = bands.join(hit_ids, id_col, "left_anti")
    return admitted, bands


def _md5_hash60(col, seed: int | None = None):
    """Deterministic 60-bit positive hash: first 15 hex chars of md5 →
    bigint. Engine-portable (DuckDB: ``('0x' || substr(md5(x),1,15))
    ::BIGINT``) — the determinism currency the e03c fixed-point LSH
    established, here for the token/shingle families. ``seed`` prefixes
    the input (``"<seed>:<value>"``) to derive independent hash
    functions from one md5."""
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat_ws(":", F.lit(str(seed)), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def minhash_lsh_pairs_det(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """:func:`minhash_lsh_pairs` with md5-derived hash functions instead
    of xxhash64 — same banding geometry, same plan shape (one shuffle
    for the per-doc signature agg, one band-keyed bucket join), but the
    signatures are SQL-replayable, so the ENTIRE MinHash-LSH candidate
    pipeline gets a FULL value-hash oracle. COST, measured at the
    STANDARD 32-file layout (SCALING.md r15; the earlier "5×" was the
    single-file bench serializing the md5 wall through one core): ~1.4×
    the xxhash twin at sf0.1 (0.86 s vs 0.61 s — md5 per shingle × perm,
    spread across all cores). Use :func:`minhash_lsh_pairs` when that
    last ~30% of throughput matters and this twin whenever cross-engine
    reproducibility has any value (the e03c playbook applied to the
    MinHash family). Min over shingles is computed per-permutation INSIDE
    the per-doc array (``array_min`` over the projected shingle array,
    map-side) — the only corpus-scale exchange is the band table's
    bucket join, and buckets are md5 strings of the signature slice
    (16-byte-class keys, never shingle text).

    Output: (id_a, id_b, n_bands) — pairs colliding in ≥1 of
    ``num_perm/rows_per_band`` bands, id_a < id_b.
    """
    # the SAME shingle construction as the xxhash64 twin (shared
    # helper): the pinned admit-set equality between the two pipelines
    # assumes identical tokenization, so neither may drift alone
    sh = shingle_arrays(df, id_col, text_col, k)
    # ONE nested transform over the seed range, NOT num_perm sibling
    # array_min(transform(...)) expressions: sibling higher-order
    # functions in a single projection get their same-named lambda
    # variables conflated by Catalyst's subexpression elimination —
    # all 8 mins came back wrong (deterministically!) in the sibling
    # form, verified against DuckDB + hashlib. The nested form keeps
    # one lambda scope per level and evaluates correctly; it is also
    # still pure map-side codegen.
    sig = sh.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(0), F.lit(num_perm - 1)),
            lambda p: F.array_min(F.transform(
                "__sh",
                lambda s: F.conv(
                    F.substring(F.md5(F.concat_ws(":", p.cast("string"), s)), 1, 15),
                    16, 10).cast("long"))),
        ).alias("sig"),
    )
    n_bands = num_perm // rows_per_band
    bands = sig.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.md5(F.concat_ws(",", *[
                    F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ])).alias("bucket"),
            )
            for b in range(n_bands)
        ])).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = bands.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def simhash_det(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", bits: int = 60) -> DataFrame:
    """:func:`simhash` with the md5-derived 60-bit token hash — the
    bit-vote signature itself becomes SQL-replayable (FULL oracle on
    the signature values, where the xxhash64 twin is rows-only). 60
    bits (15 hex chars) keeps the signature strictly positive in a
    signed bigint, so no b=63 sign-wrap special case on either engine.
    Same plan as :func:`simhash`: explode(tokens) → ``bits``
    conditional sums → bit reassembly; one shuffle on the doc id.
    Token multiplicity counts (a token appearing 3× votes 3×), exactly
    like the production twin.

    This det variant measures near the xxhash twin at sf0.1 (0.84 s vs
    0.55 s at the standard 32-file layout, SCALING.md r15 — one md5 per
    token, not per shingle × perm), so it is a reasonable default
    whenever signature reproducibility has any value; keep
    :func:`simhash` for the last fraction of throughput.
    """
    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    h = _md5_hash60("tok")
    votes = [
        F.sum(F.when(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    bit_terms = [
        F.when(F.col(f"b{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(bits)
    ]
    total = bit_terms[0]
    for t in bit_terms[1:]:
        total = total + t
    return agg.select(F.col(id_col), total.alias("simhash"))
