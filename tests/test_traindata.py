"""Unit tests for the training-data corpus-prep operators
(operators/traindata.py) on hand-built toy frames — the gate queries in
queries/traindata.py cover the oracle parity; these pin the semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from bento_spark.operators.traindata import (
    contamination_overlap,
    pack_sequences,
    pii_counts_and_redact,
    repetition_signals,
    stratified_hash_sample_flag,
)


def test_pack_sequences_matches_direct_cumsum(spark):
    # 10 docs, varying token counts; bucket_width=3 forces multi-bucket
    # offsets so the two-level scan is actually exercised.
    rows = [(i, f"{'w ' * (i % 7 + 1)}".strip()) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(
        df, "doc_id", F.size(F.split("text", " ")), capacity=5, bucket_width=3
    ).orderBy("doc_id").collect()
    cum = 0
    for r in out:
        assert r.seq_id == cum // 5
        assert r.seq_pos == cum % 5
        cum += r.n_tokens
    # every doc assigned, order respected
    assert [r.doc_id for r in out] == list(range(10))


def test_pack_sequences_bucket_width_invariance(spark):
    rows = [(i, "a b c") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tok = F.size(F.split("text", " "))
    a = {r.doc_id: (r.seq_id, r.seq_pos)
         for r in pack_sequences(df, "doc_id", tok, 7, bucket_width=2).collect()}
    b = {r.doc_id: (r.seq_id, r.seq_pos)
         for r in pack_sequences(df, "doc_id", tok, 7, bucket_width=100).collect()}
    assert a == b


def test_contamination_overlap_flags_exact_copy(spark):
    train = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "q r s t u v w")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d e f g")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in contamination_overlap(
        train, bench, "doc_id", "text", n=5, threshold=0.5).collect()}
    assert out[1].contaminated == 1 and out[1].overlap_ratio == 1.0
    assert out[2].contaminated == 0 and out[2].n_overlap == 0
    assert out[1].n_shingles == 3  # 7 words -> 3 distinct 5-grams


def test_contamination_short_doc_has_zero_shingles(spark):
    train = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string")
    r = contamination_overlap(train, bench, "doc_id", "text", n=5).collect()[0]
    assert (r.n_shingles, r.n_overlap, r.contaminated) == (0, 0, 0)


def test_pii_redaction_counts_and_order(spark):
    df = spark.createDataFrame(
        [(1, "mail bob@x.org and 10.1.2.3 then 555-1234 twice 555-0000")],
        "id long, text string",
    )
    c = pii_counts_and_redact(F.col("text"))
    r = df.select(
        c["n_emails"].alias("e"), c["n_ips"].alias("i"),
        c["n_phones"].alias("p"), c["redacted"].alias("red"),
    ).collect()[0]
    assert (r.e, r.i, r.p) == (1, 1, 2)
    assert r.red == "mail [EMAIL] and [IP] then [PHONE] twice [PHONE]"


def test_repetition_signals_extremes(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),   # all repeats
         (2, "one two three four five six")],    # no repeats
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           repetition_signals(df, "doc_id", "text").collect()}
    assert out[1].top_word_frac == 1.0 and out[1].keep == 0
    # 4 total 3-grams, 1 distinct -> 0.75 duplicated
    assert out[1].dup_gram_frac == 0.75
    assert out[2].dup_gram_frac == 0.0 and out[2].keep == 1


def test_stratified_sample_flag_deterministic(spark):
    df = spark.range(1000)
    flag = stratified_hash_sample_flag(F.col("id"), 20)
    n1 = df.select(F.sum(flag).alias("n")).collect()[0].n
    n2 = df.select(F.sum(flag).alias("n")).collect()[0].n
    assert n1 == n2
    assert 120 <= n1 <= 280  # ~20% of 1000, deterministic binomial-ish


def test_kmeans_lloyd_separated_clusters(spark):
    from bento_spark.operators.clustering import kmeans_lloyd

    # two tight blobs far apart in 4-d; k=2 must split them exactly
    rows = []
    for i in range(20):
        base = [0.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [10.0, 10.0, 10.0, 10.0]
        rows.append((i, [b + 0.01 * (i % 5) for b in base]))
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = {r.id: r for r in kmeans_lloyd(df, "id", "v", dim=4, k=2, iters=3).collect()}
    blob0 = {out[i].cluster for i in range(0, 20, 2)}
    blob1 = {out[i].cluster for i in range(1, 20, 2)}
    assert len(blob0) == 1 and len(blob1) == 1 and blob0 != blob1
    assert all(out[i].dist < 1.0 for i in range(20))


def test_kmeans_raises_on_too_few_rows(spark):
    from bento_spark.operators.clustering import kmeans_lloyd

    df = spark.createDataFrame([(1, [0.0, 0.0])], "id long, v array<double>")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="init"):
        kmeans_lloyd(df, "id", "v", dim=2, k=4, iters=1)


def _semdedup_pair(spark, rows, schema, threshold=0.95):
    """(engine, DuckDB twin) keep-sets of semdedup over ``rows``."""
    import duckdb

    from bento_spark.operators.clustering import semdedup, semdedup_sql

    id_col = schema.split()[0]
    df = spark.createDataFrame(rows, schema)
    got = {
        (r[id_col], r.cluster, r.keep)
        for r in semdedup(df, id_col, "v", dim=4, k=2, iters=1,
                          threshold=threshold).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({schema.replace('array<double>', 'DOUBLE[]')})")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = semdedup_sql("t", id_col, "v", dim=4, k=2, iters=1, threshold=threshold)
    want = set(con.execute(sql).fetchall())
    con.close()
    return got, want


# two groups, each with one near-duplicate (cosine > 0.99) of its
# first member and one distinct vector
_SEMD_VECS = [
    [1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0], [0.99, 0.05, 0.0, 0.0],
    [0.0, 0.0, 0.98, 0.1], [0.6, 0.8, 0.0, 0.0], [0.0, 0.0, 0.5, 0.5],
]


def test_semdedup_string_ids_match_oracle(spark):
    rows = [(f"k{i}", v) for i, v in enumerate(_SEMD_VECS)]
    got, want = _semdedup_pair(spark, rows, "doc string, v array<double>")
    assert got == want
    assert {i for i, _, keep in got if not keep} == {"k2", "k3"}


def test_semdedup_zero_vectors_are_kept_like_oracle(spark):
    """A zero-norm vector has no cosine (NaN here, NULL in DuckDB), so it
    neither dominates nor is dominated: both zero rows are kept."""
    zero = [0.0, 0.0, 0.0, 0.0]
    rows = [(i, v) for i, v in enumerate(_SEMD_VECS + [zero, zero])]
    got, want = _semdedup_pair(spark, rows, "id long, v array<double>")
    assert got == want
    keep = {i: k for i, _, k in got}
    assert keep[6] and keep[7]
    assert not keep[2] and not keep[3]
