"""Invariant tests for operators/sample.py beyond the oracle-parity
gate: split determinism under repartitioning, stratified balance,
mixing-target arithmetic, keep-first line-dedup semantics vs a Python
reference, and int8 quantization bounds."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_api_spark.operators.sample import (
    dataset_split,
    dedup_lines_keep_first,
    mixing_plan,
    quantize_int8,
    stratified_keep,
)
from docling_api_spark.sources.catalog import load

SF_DIR = "/root/testdata/sf0.01"


def test_split_stable_under_repartition_and_proportional(spark):
    """The split is a pure function of doc_id: any partitioning deals
    identically (randomSplit does NOT have this property), and the
    1000-bucket hash hits the 80/10/10 targets within binomial noise."""
    d = load(spark, SF_DIR, "documents")
    a = {r["doc_id"]: r["split"] for r in dataset_split(d).select("doc_id", "split").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in dataset_split(d.repartition(7)).select("doc_id", "split").collect()
    }
    assert a == b
    n = len(a)
    frac = {s: sum(1 for v in a.values() if v == s) / n for s in ("train", "val", "test")}
    assert 0.72 <= frac["train"] <= 0.88
    assert 0.05 <= frac["val"] <= 0.15
    assert 0.05 <= frac["test"] <= 0.15


def test_stratified_keep_balances_and_is_deterministic(spark):
    d = load(spark, SF_DIR, "documents")
    kept1 = stratified_keep(d, stratum_col="lang")
    rows = kept1.select("lang", "doc_id", "kept", "n_stratum", "n_min").collect()
    n_min = rows[0]["n_min"]
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert min(len(v) for v in by_lang.values()) == n_min
    for lang, rs in by_lang.items():
        n_kept = sum(1 for r in rs if r["kept"])
        # expected kept = n_min per stratum; allow ~4 sigma binomial noise
        sigma = (n_min * max(0.0, 1 - n_min / len(rs))) ** 0.5
        assert abs(n_kept - n_min) <= max(4 * sigma, 2), (lang, n_kept, n_min)
        # the smallest stratum is kept whole (rate = 1 exactly)
        if len(rs) == n_min:
            assert n_kept == n_min
    # determinism: a second evaluation keeps the identical id set
    ids1 = {r["doc_id"] for r in rows if r["kept"]}
    ids2 = {
        r["doc_id"]
        for r in stratified_keep(d.repartition(5), stratum_col="lang")
        .filter("kept")
        .select("doc_id")
        .collect()
    }
    assert ids1 == ids2


def test_mixing_plan_targets(spark):
    d = load(spark, SF_DIR, "documents")
    plan = {r["lang"]: r for r in mixing_plan(d, group_col="lang", budget=100_000).collect()}
    assert abs(sum(r["weight"] for r in plan.values()) - 1.0) < 1e-4
    # integer targets: sum <= budget (floor division), each positive
    assert 0 < sum(r["target_docs"] for r in plan.values()) <= 100_000
    # temperature alpha=0.5 upsamples tails: sampling rate target/n is
    # strictly decreasing in stratum size among distinct sizes
    by_n = sorted(plan.values(), key=lambda r: r["n_docs"])
    rates = [r["target_docs"] / r["n_docs"] for r in by_n]
    for a, b in zip(rates, rates[1:]):
        assert a >= b - 1e-12
    # and absolute targets still grow with n (sqrt is monotone)
    targets = [r["target_docs"] for r in by_n]
    assert targets == sorted(targets)


def test_dedup_lines_keep_first_matches_reference(spark):
    cases = [
        [],
        [""],
        ["a"],
        ["a", "a"],
        ["a", "b", "a", "b", "a"],
        ["b", "a", "b", "", ""],
        ["x", "y", "z"],
        ["dup", "dup", "dup", "tail"],
    ]
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("ln", T.ArrayType(T.StringType())),
        ]
    )
    df = spark.createDataFrame(list(enumerate(cases)), schema=schema)
    got = {
        r["i"]: r["kept"]
        for r in df.select("i", dedup_lines_keep_first(F.col("ln")).alias("kept")).collect()
    }

    def ref(ls):
        seen, out = set(), []
        for x in ls:
            if x not in seen:
                seen.add(x)
                out.append(x)
        return out

    for i, case in enumerate(cases):
        assert got[i] == ref(case), (i, case, got[i])


def test_quantize_int8_bounds_and_zero_guard(spark):
    vecs = [
        (0, [0.0, 0.0, 0.0]),
        (1, [1.0, -2.0, 0.5]),
        (2, [-0.001, 0.0005, -0.0002]),
        (3, [127.0, -127.0, 63.5]),
    ]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.IntegerType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(vecs, schema=schema)
    rows = {
        r["vec_id"]: r["qs"]
        for r in df.select("vec_id", quantize_int8(F.col("embedding")).alias("qs")).collect()
    }
    assert rows[0]["q"] == [0, 0, 0] and rows[0]["scale"] == 0.0
    import numpy as np

    for vid, (_, raw) in zip(sorted(rows), vecs):
        qs = rows[vid]
        # the column is float32; scale is max|x| after f32 storage
        assert qs["scale"] == max(abs(float(np.float32(x))) for x in raw)
        assert all(-127 <= q <= 127 for q in qs["q"])
        if qs["scale"] > 0:
            # the max-magnitude component maps to ±127 exactly
            assert 127 in [abs(q) for q in qs["q"]]


def test_global_shuffle_shard_plan_invariants(spark):
    """Shard manifest: contiguous rank ranges tiling 1..N, every shard
    full except the last, and the assignment is a pure function of
    doc_id (stable across input partitionings)."""
    from docling_api_spark.plans.sampling_q import (
        _SHARD_SIZE,
        global_shuffle_shard_plan,
    )

    rows = sorted(
        global_shuffle_shard_plan(spark, SF_DIR).collect(),
        key=lambda r: r["shard_id"],
    )
    n = sum(r["n_docs"] for r in rows)
    assert rows[0]["rnk_min"] == 1
    assert rows[-1]["rnk_max"] == n
    for prev, cur in zip(rows, rows[1:]):
        assert cur["rnk_min"] == prev["rnk_max"] + 1
    for r in rows[:-1]:
        assert r["n_docs"] == _SHARD_SIZE
        assert r["rnk_max"] - r["rnk_min"] + 1 == _SHARD_SIZE
    assert 1 <= rows[-1]["n_docs"] <= _SHARD_SIZE
    # shard ids are dense 0..n_shards-1
    assert [r["shard_id"] for r in rows] == list(range(len(rows)))
    # determinism: re-evaluation yields the identical manifest
    again = sorted(
        global_shuffle_shard_plan(spark, SF_DIR).collect(),
        key=lambda r: r["shard_id"],
    )
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_dsir_weights_prefers_target_language(spark):
    """DSIR scores must separate target-like from non-target docs:
    English documents (the target) keep at a much higher rate than any
    other language, the median keep rule splits the corpus ~in half,
    and the score is deterministic under repartitioning."""
    from docling_api_spark.operators.sample import dsir_weights

    d = load(spark, SF_DIR, "documents")
    out = dsir_weights(d, F.col("lang") == "en").collect()
    langs = {r["id"]: r for r in out}
    by_lang = {}
    for r in load(spark, SF_DIR, "documents").select("doc_id", "lang").collect():
        s = langs.get(r["doc_id"])
        if s is not None:
            by_lang.setdefault(r["lang"], []).append(s["kept"])
    en_rate = sum(by_lang["en"]) / len(by_lang["en"])
    other = [k for lang, ks in by_lang.items() if lang != "en" for k in ks]
    other_rate = sum(other) / len(other)
    assert en_rate > 0.7, en_rate
    assert other_rate < 0.4, other_rate
    n_kept = sum(1 for r in out if r["kept"])
    assert 0.4 <= n_kept / len(out) <= 0.6
    out2 = dsir_weights(d.repartition(7), F.col("lang") == "en").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_semdedup_drops_planted_duplicates_only(spark):
    """On the planted-dup corpus every +100000 copy must be dropped
    (identical vectors share a cell; keep-first drops the higher id)
    and no original may be dropped (natural max off-diagonal cosine in
    this table is 0.51, far under the 0.9 threshold)."""
    from docling_api_spark.operators.dedup import semdedup

    e = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    flags = semdedup(e.unionByName(planted), dim=64, n_cells=16, threshold=0.9)
    rows = {r["id"]: r for r in flags.collect()}
    n_planted = planted.count()
    dropped = {i for i, r in rows.items() if r["dropped"]}
    assert dropped == {i for i in rows if i >= 100000}
    assert len(dropped) == n_planted
    # an exact copy must land in its original's cell
    for i in dropped:
        assert rows[i]["cell"] == rows[i - 100000]["cell"]


def test_domain_cap_keep_invariants(spark):
    """Per-domain kept count = min(cap, domain size); the kept set is a
    pure function of ids (stable under repartitioning); ranks within a
    domain are a permutation of 1..n."""
    from docling_api_spark.operators.sample import domain_cap_keep

    d = load(spark, SF_DIR, "documents")
    out = domain_cap_keep(d, cap=10)
    per = (
        out.groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
            F.count_distinct("dom_rank").alias("n_ranks"),
            F.max("dom_rank").alias("max_rank"),
        )
        .collect()
    )
    for r in per:
        assert r["n_kept"] == min(10, r["n"])
        assert r["n_ranks"] == r["n"] and r["max_rank"] == r["n"]  # permutation
    a = {r["doc_id"] for r in out.filter("kept").select("doc_id").collect()}
    b = {
        r["doc_id"]
        for r in domain_cap_keep(d.repartition(7), cap=10)
        .filter("kept")
        .select("doc_id")
        .collect()
    }
    assert a == b


def test_group_split_no_leakage(spark):
    """Every source lands in exactly one split — the property that
    makes the split leakage-safe — and the assignment is stable under
    repartitioning."""
    from docling_api_spark.operators.sample import group_split

    d = load(spark, SF_DIR, "documents")
    out = group_split(d)
    straddlers = (
        out.groupBy("source")
        .agg(F.count_distinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert straddlers == 0
    a = {r["source"]: r["split"] for r in out.select("source", "split").distinct().collect()}
    b = {
        r["source"]: r["split"]
        for r in group_split(d.repartition(5)).select("source", "split").distinct().collect()
    }
    assert a == b


def test_stratified_keep_conserves_null_stratum_rows(spark):
    """A NULL stratum must form its own stratum, not vanish through the
    count join (the silent row-loss class: an equi-join on a NULL key
    matches nothing). Skewed strata (15 NULL / 5 "en") so the NULL
    stratum is the one that must be downsampled: row conservation,
    NULL stratum counted, and some of its rows really dropped."""
    rows = [(i, None if i < 15 else "en") for i in range(20)]
    d = spark.createDataFrame(rows, "doc_id int, lang string")
    out = stratified_keep(d, stratum_col="lang").collect()
    assert len(out) == 20  # one output row per input row
    null_rows = [r for r in out if r["lang"] is None]
    assert len(null_rows) == 15
    assert all(r["n_stratum"] == 15 for r in null_rows)
    # keep decisions for NULL-stratum rows are real booleans, and the
    # larger stratum is downsampled toward the smaller one
    assert all(r["kept"] in (True, False) for r in null_rows)
    assert 0 < sum(r["kept"] for r in null_rows) < 15
    assert all(r["kept"] for r in out if r["lang"] == "en")


def test_stratified_keep_input_with_temp_column_name(spark):
    """An input column that happens to be named like the operator's
    internal join key must pass through untouched, not collide."""
    rows = [(i, "en" if i % 4 else "de", f"v{i}") for i in range(20)]
    d = spark.createDataFrame(rows, "doc_id int, lang string, __stratum string")
    out = stratified_keep(d, stratum_col="lang").orderBy("doc_id").collect()
    assert [r["__stratum"] for r in out] == [f"v{i}" for i in range(20)]
    assert out[0].asDict().keys() == {"doc_id", "lang", "__stratum", "n_stratum", "n_min", "kept"}
    base = stratified_keep(d.drop("__stratum"), stratum_col="lang").orderBy("doc_id").collect()
    assert [(r["n_stratum"], r["kept"]) for r in out] == [(r["n_stratum"], r["kept"]) for r in base]
