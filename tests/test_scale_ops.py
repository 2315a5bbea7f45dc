"""Tests for the scale operators: salted joins, two-phase aggregation,
MERGE emulation, SCD2, and bucketed co-located joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_file_sync_spark.operators.merge import merge_upsert, scd2_apply
from etl_file_sync_spark.operators.skew import salted_join, two_phase_agg


def test_salted_join_matches_plain_join(spark):
    # heavy skew: 90% of rows share key 1
    big = spark.range(1000).select(
        F.when(F.col("id") < 900, 1).otherwise(F.col("id")).alias("k"), F.col("id").alias("v")
    )
    small = spark.createDataFrame([(1, "hot"), (950, "cold")], "k long, label string")
    plain = {(r.k, r.v, r.label) for r in big.join(small, "k").collect()}
    salted = {(r.k, r.v, r.label) for r in salted_join(big, small, "k").collect()}
    assert salted == plain and len(plain) == 901


def test_two_phase_agg_exact(spark):
    df = spark.range(2000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") % 7).alias("v")
    )
    expected = {
        (r.k, r.n_rows, r.n_distinct)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.countDistinct("v").alias("n_distinct"))
        .collect()
    }
    got = {(r.k, r.n_rows, r.n_distinct) for r in two_phase_agg(df, "k", "v").collect()}
    assert got == expected


def test_merge_upsert(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    source = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    got = {(r.k, r.v) for r in merge_upsert(target, source, "k").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_merge_schema_mismatch_raises(spark):
    t = spark.createDataFrame([(1, "a")], "k long, v string")
    s = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(t, s, "k")


def test_scd2_apply(spark):
    dim = spark.createDataFrame(
        [(1, "x", "2020-01-01", None), (2, "y", "2020-01-01", None)],
        "k long, attr string, valid_from string, valid_to string",
    )
    changes = spark.createDataFrame(
        [(1, "x2", "2021-06-01"), (2, "y", "2021-06-01")],  # key 2 unchanged
        "k long, attr string, chg string",
    )
    out = scd2_apply(dim, changes, "k", "chg", ["attr"]).collect()
    rows = {(r.k, r.attr, r.valid_from, r.valid_to) for r in out}
    assert rows == {
        (1, "x", "2020-01-01", "2021-06-01"),  # closed old version
        (1, "x2", "2021-06-01", None),  # new current
        (2, "y", "2020-01-01", None),  # untouched (no value change)
    }


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketed tables co-locate join keys at write time: the join plan
    must contain ZERO shuffle exchanges — the 100 TB fact-fact join
    strategy (pay the shuffle once at ingest, never again)."""
    from etl_file_sync_spark.catalog import load_table
    from tests.plan_util import count_exchanges

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    warehouse_db = "bucketdb"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {warehouse_db}")
    try:
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem")
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
            f"{warehouse_db}.orders_b"
        )
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey").write.bucketBy(8, "o_orderkey").sortBy(
            "o_orderkey"
        ).mode("overwrite").saveAsTable(f"{warehouse_db}.lineitem_b")
        ob = spark.table(f"{warehouse_db}.orders_b")
        lb = spark.table(f"{warehouse_db}.lineitem_b")
        joined = ob.join(lb, "o_orderkey").groupBy("o_orderstatus").count()
        n_shuffles = count_exchanges(ob.join(lb, "o_orderkey"))
        assert n_shuffles == 0, "bucketed equi-join must not shuffle"
        assert joined.count() > 0
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {warehouse_db} CASCADE")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_ivf_partition_pruned_probe(spark, sf_dir, tmp_path):
    """The IVF 100 TB layout claim, demonstrated: write the assigned
    corpus partitionBy(centroid_id), probe a subset of cells, and assert
    the scan's PartitionFilters prune to those cells (scan reads nprobe
    buckets, not the corpus)."""
    from etl_file_sync_spark.catalog import load_table
    from etl_file_sync_spark.operators.similarity import ivf_assign, make_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents = make_centroids(emb, every=50)
    assigned = ivf_assign(emb, cents)
    out = str(tmp_path / "ivf_corpus")
    assigned.selectExpr("vec_id", "v", "centroid_id").write.partitionBy("centroid_id").parquet(out)

    probe = spark.read.parquet(out).filter(F.col("centroid_id").isin([0, 2]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split("PartitionFilters", 1)[1][:200]
    got_cells = {r.centroid_id for r in probe.select("centroid_id").distinct().collect()}
    assert got_cells <= {0, 2} and got_cells
    # pruning is real: scanned row count equals the two cells' membership
    full = {r.centroid_id: r.cnt for r in spark.read.parquet(out).groupBy("centroid_id").agg(F.count("*").alias("cnt")).collect()}
    assert probe.count() == sum(v for k, v in full.items() if k in (0, 2))


def test_connected_components_vs_union_find(spark):
    from etl_file_sync_spark.operators.cluster import connected_components

    # two chains and a triangle: {1,2,3,4}, {10,11}, {20,21,22}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {(r.id, r.component) for r in connected_components(pairs).collect()}
    # union-find reference computed by hand: min-id labels
    expected = {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20), (21, 20), (22, 20)}
    assert got == expected


def test_connected_components_long_chain_converges_fast(spark, monkeypatch):
    """A 120-hop chain: naive min-label propagation needs 120 rounds; the
    alternating star algorithm must finish inside a 10-round budget."""
    from etl_file_sync_spark.operators import cluster

    monkeypatch.setattr(cluster, "MAX_ROUNDS", 10)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(120)], "id_a long, id_b long")
    got = {(r.id, r.component) for r in cluster.connected_components(pairs).collect()}
    assert got == {(i, 0) for i in range(121)}


def test_connected_components_raises_when_rounds_run_out(spark, monkeypatch):
    """One round cannot collapse the 120-hop chain: the operator raises
    instead of returning split components."""
    from etl_file_sync_spark.operators import cluster

    monkeypatch.setattr(cluster, "MAX_ROUNDS", 1)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(120)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        cluster.connected_components(pairs)


def test_connected_components_random_vs_union_find(spark):
    """Randomized graph cross-checked against a driver-side union-find."""
    import random

    from etl_file_sync_spark.operators.cluster import connected_components

    rng = random.Random(7)
    edges = sorted({tuple(sorted(rng.sample(range(200), 2))) for _ in range(150)})
    parent = list(range(200))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    # min-id label per component, restricted to nodes that appear in edges
    nodes = {n for e in edges for n in e}
    roots = {}
    for n in nodes:
        roots.setdefault(find(n), []).append(n)
    expected = {(n, min(mem)) for mem in roots.values() for n in mem}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {(r.id, r.component) for r in connected_components(pairs).collect()}
    assert got == expected


def test_dedup_clusters_survivor_flags(spark):
    from etl_file_sync_spark.operators.cluster import dedup_clusters

    df = spark.createDataFrame([(i, "x") for i in range(6)], "doc_id long, lang string")
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
    out = {r.doc_id: (r.cluster_id, r.is_canonical) for r in dedup_clusters(df, pairs).collect()}
    assert out[0] == (0, True) and out[3] == (0, False) and out[5] == (0, False)
    assert out[1] == (1, True) and out[2] == (2, True) and out[4] == (4, True)  # singletons


def test_lsh_calibration_s_curve():
    from etl_file_sync_spark.operators.calibrate import candidate_probability, choose_lsh_params

    plan = choose_lsh_params(threshold=0.5, num_perm=64, min_recall=0.9)
    assert plan.bands * plan.rows_per_band == 64
    assert plan.recall_at_threshold >= 0.9
    # S-curve monotonicity: higher similarity => higher candidate prob
    probs = [candidate_probability(s / 10, plan.bands, plan.rows_per_band) for s in range(11)]
    assert probs == sorted(probs)
    assert probs[0] == 0.0 and probs[10] == 1.0
    # fp at half threshold must be lower than recall at threshold
    assert plan.false_positive_at_half_threshold < plan.recall_at_threshold


def test_profile_table_values(spark):
    from etl_file_sync_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], "k long, v string"
    )
    prof = {r.column: r for r in profile_table(df).collect()}
    assert prof["k"].n_rows == 3 and prof["k"].n_nulls == 0 and prof["k"].n_distinct == 2
    assert prof["k"].min_val == "1" and prof["k"].max_val == "2"
    assert prof["v"].n_nulls == 1 and prof["v"].n_distinct == 2


def test_check_constraints_detects_violations(spark):
    from etl_file_sync_spark.operators.profile import Constraint, check_constraints

    df = spark.createDataFrame([(1, "x"), (1, "y"), (None, "z")], "k long, s string")
    ref = spark.createDataFrame([("x",), ("y",)], "s string")
    out = {
        r.check_name: r.n_violations
        for r in check_constraints(
            df,
            [
                Constraint("uniq", "unique", "k"),
                Constraint("nn", "not_null", "k"),
                Constraint("fk", "foreign_key", "s", ref=ref, ref_column="s"),
                Constraint("vals", "accepted_values", "s", values=("x", "y", "z")),
            ],
        ).collect()
    }
    assert out == {"uniq": 1, "nn": 1, "fk": 1, "vals": 0}


def test_profile_table_awkward_column_names(spark):
    from etl_file_sync_spark.operators.profile import profile_table

    df = spark.createDataFrame([(1, "x")], ["order", "my col"])
    prof = {r.column for r in profile_table(df).collect()}
    assert prof == {"order", "my col"}


def test_check_constraints_empty_list_and_null_fk(spark):
    from etl_file_sync_spark.operators.profile import Constraint, check_constraints

    df = spark.createDataFrame([(None,), (5,)], "k long")
    ref = spark.createDataFrame([(5,)], "k long")
    assert check_constraints(df, []).count() == 0
    out = {r.check_name: r.n_violations for r in check_constraints(
        df, [Constraint("fk", "foreign_key", "k", ref=ref, ref_column="k")]).collect()}
    assert out == {"fk": 0}  # NULL FK belongs to not_null, not the FK check


def test_scd2_new_keys_and_multi_change(spark):
    from etl_file_sync_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [(1, "x", "2020-01-01", None)], "k long, attr string, valid_from string, valid_to string"
    )
    changes = spark.createDataFrame(
        [(1, "x2", "2021-01-01"), (1, "x3", "2021-06-01"), (9, "new", "2021-03-01")],
        "k long, attr string, chg string",
    )
    rows = {(r.k, r.attr, r.valid_from, r.valid_to) for r in scd2_apply(dim, changes, "k", "chg", ["attr"]).collect()}
    assert rows == {
        (1, "x", "2020-01-01", "2021-06-01"),   # closed at the LATEST change
        (1, "x3", "2021-06-01", None),          # only one current row for key 1
        (9, "new", "2021-03-01", None),         # brand-new key inserted
    }


def test_salted_join_rejects_outer(spark):
    from etl_file_sync_spark.operators.skew import salted_join

    big = spark.range(10).selectExpr("id AS k", "id AS v")
    small = spark.createDataFrame([(1, "a")], "k long, lbl string")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(big, small, "k", how="full")


def test_expand_pairs_cap_bounds_mega_cluster(spark):
    """A planted 100k-copy exact-dup group must expand to bounded output
    (the representative star, k-1 rows), not C(100k,2) ≈ 5e9 pairs."""
    from etl_file_sync_spark.operators.dedup import exact_collapse, expand_pairs

    n = 100_000
    df = spark.range(n).select(F.col("id").alias("doc_id"), F.lit("same text").alias("text"))
    reps, membership = exact_collapse(df, "doc_id", F.sha2(F.col("text"), 256))
    assert reps.count() == 1
    rep_pairs = spark.createDataFrame([], "id_a long, id_b long, est_jaccard double")
    out = expand_pairs(rep_pairs, membership, "est_jaccard", 1.0, max_group_pairs=1000)
    assert out.count() == n - 1  # star: (rep=0, member) for every copy
    sample = out.orderBy("id_b").limit(3).collect()
    assert [(r.id_a, r.id_b, r.est_jaccard) for r in sample] == [
        (0, 1, 1.0), (0, 2, 1.0), (0, 3, 1.0)
    ]


def test_expand_pairs_cap_noop_below_cutoff(spark):
    """Below the cap the pair contract is byte-identical to uncapped."""
    from etl_file_sync_spark.operators.dedup import minhash_dedup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for g in range(4):
        text = base + f" group{g}"
        for m in range(5):  # C(5,2)=10 <= cap
            rows.append((g * 10 + m, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = minhash_dedup_pairs(df, max_group_pairs=10).collect()
    plain = minhash_dedup_pairs(df).collect()
    key = lambda r: ((r.id_a, r.id_b), r.est_jaccard)  # noqa: E731
    assert sorted(map(key, capped)) == sorted(map(key, plain))


def test_expand_pairs_cap_keeps_cross_cluster_rep_pairs(spark):
    """Capped clusters still surface near-dup relations ACROSS clusters
    via their representative (the cross side is capped too)."""
    from etl_file_sync_spark.operators.dedup import exact_collapse, expand_pairs

    rows = [(i, "aaa") for i in range(10)] + [(100 + i, "bbb") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    reps, membership = exact_collapse(df, "doc_id", F.col("text"))
    rep_pairs = spark.createDataFrame([(0, 100, 0.9)], "id_a long, id_b long, score double")
    out = expand_pairs(rep_pairs, membership, "score", 1.0, max_group_pairs=3).collect()
    # per cluster: star of 9; cross: rep-rep only
    stars = [r for r in out if r.score == 1.0]
    cross = [r for r in out if r.score == 0.9]
    assert len(stars) == 18 and len(cross) == 1
    assert (cross[0].id_a, cross[0].id_b) == (0, 100)


def test_corpus_dedup_pipeline_oracle_agrees_when_stop_shingle_cut_fires(spark, tmp_path):
    """Round-4 ADVICE: the composed pipeline's oracle must restate the
    default stop-shingle cut (max_df_frac=0.5), not merely agree while
    no shingle is hot. This corpus gives every doc a shared boilerplate
    prefix (df = 100% > 0.5, the cut FIRES); Spark query and DuckDB
    oracle must still agree — docs sharing only boilerplate form no
    cluster, the two identical docs still collapse."""
    import duckdb

    from etl_file_sync_spark.queries import REGISTRY
    from tests.conftest import assert_frames_match

    boiler = "copyright acme corp all rights reserved do not redistribute"
    rows = [
        (i, f"{boiler} unique body {i} alpha{i} beta{i} gamma{i} delta{i}", "en", "webA")
        for i in range(12)
    ]
    rows += [
        (100, f"{boiler} same real content here twice over", "en", "webB"),
        (101, f"{boiler} same real content here twice over", "en", "webB"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    df = df.withColumn("n_chars", F.length("text"))
    df.write.parquet(str(tmp_path / "documents.parquet"))

    q = REGISTRY["corpus_dedup_pipeline"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'")
    out = q.build(spark, str(tmp_path))
    assert_frames_match(out, con.sql(q.oracle))
    by_source = {r["source"]: r for r in out.collect()}
    assert by_source["webA"]["n_dropped"] == 0  # boilerplate-only overlap: no pairs
    assert by_source["webB"]["n_dropped"] == 1  # the identical pair still collapses
    con.close()
