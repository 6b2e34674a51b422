"""Text-analysis queries over the `documents` table: token stats,
quality scoring, language ID, winnowing fingerprints.

All tier-a (built-in functions, codegen-friendly); every oracle is
generated from the same constants/SQL twins as the Spark plan. Spark
Column expressions are built lazily inside the query functions (classic
PySpark Columns need an active SparkContext); oracle SQL is pure string
building at import time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bento_spark.functions.textops import (
    TOKEN_RE,
    padded_text,
    stopword_hits_padded,
    token_count_re,
    token_count_ws,
    winnow_fingerprints_exploded,
    winnow_fingerprints_table_sql,
    words,
    unigram_logprob,
    unigram_logprob_sql,
)
from bento_spark.queries import query
from bento_spark.queries.relational import _t

# stopword votes per language, fixed precedence for argmax ties
STOPWORDS = {
    "en": ["the", "a", "of", "and", "is", "to", "in"],
    "fr": ["le", "la", "et", "les", "un", "des", "du"],
    "es": ["el", "la", "de", "y", "que", "los", "en"],
    "de": ["der", "die", "und", "das", "ein", "mit", "von"],
}
LANG_ORDER = ["en", "fr", "es", "de"]
CJK_RE = "[\\x{4e00}-\\x{9fff}]"
FP_K, FP_W = 5, 4


def _spread(docs: DataFrame, *keys: str) -> DataFrame:
    """The text plane's per-row analysis chains (split/replace/regex over
    the full document text) run entirely in the SCAN stage, and the local
    documents table is one parquet row group at every SF — without a
    spread the whole plane computes on ONE core while the rest idle.

    With ``keys`` (the query's output sort key): range-partition off the
    scan and let the query end in ``sortWithinPartitions`` — the final
    global orderBy's range exchange would otherwise re-execute the whole
    heavy projection once more in its boundary-sampling job (see
    operators/dedup.range_spread). Without keys: the guarded round-robin
    spread (no-op at cluster file counts)."""
    from bento_spark.operators.dedup import ensure_parallelism, range_spread

    if keys:
        return range_spread(docs, *keys)
    return ensure_parallelism(docs)


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS INT) AS re_tokens,
           CAST(length(text) AS INT) AS n_chars,
           round(length(text)::DOUBLE / len(regexp_extract_all(text, '{TOKEN_RE}')), 6)
             AS chars_per_token
    FROM documents ORDER BY doc_id
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts and chars/token ratio."""
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    re_toks = token_count_re(F.col("text"))
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("ws_tokens"),
        re_toks.alias("re_tokens"),
        F.length("text").cast("int").alias("n_chars"),
        F.round(F.length("text") / re_toks, 6).alias("chars_per_token"),
    ).sortWithinPartitions("doc_id")


def _with_quality_cols(docs: DataFrame) -> DataFrame:
    """Quality features as stacked projections. All codegen: stopword
    counting via string replace/length, mean word length via the
    sum(len)=len(text)-(n-1) identity — the round-1 per-word HOF lambdas
    were 3.8s of the bench.

    Shared subtrees (the word split, the padded text, the stopword-hit
    chain, the word count) are hoisted into real columns: the engine runs
    with Catalyst CSE off (session.py), and CollapseProject keeps a
    projection layer whose aliases are non-cheap and multiply referenced,
    so each hoisted value is computed once per row instead of once per
    reference (the round-11 3–34× regression on this query family)."""
    d = docs.withColumns(
        {"__w": words(F.col("text")), "__pad": padded_text(F.col("text"))}
    )
    d = d.withColumns(
        {
            "__nw": F.size("__w"),
            "__nu": F.size(F.array_distinct("__w")),
            "__ns": stopword_hits_padded(F.col("__pad"), STOPWORDS["en"]),
        }
    )
    n_words, n_uniq, n_stop = F.col("__nw"), F.col("__nu"), F.col("__ns")
    mean_len = (F.length("text") - (n_words - 1)) / n_words
    uniq_ratio = n_uniq / n_words
    stop_ratio = n_stop / n_words
    score = F.round(
        F.lit(0.4) * uniq_ratio
        + F.lit(0.4) * F.least(stop_ratio * 5, F.lit(1.0))
        + F.lit(0.2) * F.least(n_words / 100.0, F.lit(1.0)),
        6,
    )
    return d.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(mean_len, 6).alias("mean_word_len"),
        score.alias("quality_score"),
    )


def _quality_sql() -> str:
    stoplist = "[" + ",".join(f"'{s}'" for s in STOPWORDS["en"]) + "]"
    return f"""
      CAST(len(w) AS INT) AS n_words,
      round(len(list_distinct(w))::DOUBLE / len(w), 6) AS uniq_ratio,
      round(len(list_filter(w, x -> list_contains({stoplist}, x)))::DOUBLE / len(w), 6)
        AS stop_ratio,
      round((length(text) - len(w) + 1)::DOUBLE / len(w), 6) AS mean_word_len,
      round(0.4e0 * (len(list_distinct(w))::DOUBLE / len(w))
            + 0.4e0 * least((len(list_filter(w, x -> list_contains({stoplist}, x)))::DOUBLE / len(w)) * 5, 1.0e0)
            + 0.2e0 * least(len(w)::DOUBLE / 100.0e0, 1.0e0), 6) AS quality_score
    """


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id, {_quality_sql()}
    FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
    ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: uniq-word ratio, stopword ratio, length —
    the standard pre-training corpus filters, one scan, no UDF."""
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    return _with_quality_cols(docs).sortWithinPartitions("doc_id")


def _with_lang_cols(docs: DataFrame) -> DataFrame:
    """Language-ID argmax over per-language stopword votes, with the
    padded text and each language's hit count hoisted into real columns
    (see ``_with_quality_cols`` — the argmax conditions reference each
    hit count ~9×, and each inline hit chain would re-run the full-text
    padding replace per stopword under the engine's CSE-off default)."""
    d = docs.withColumn("__pad", padded_text(F.col("text")))
    d = d.withColumns(
        {
            f"__h_{lang}": stopword_hits_padded(F.col("__pad"), STOPWORDS[lang])
            for lang in LANG_ORDER
        }
    )
    hits = {lang: F.col(f"__h_{lang}") for lang in LANG_ORDER}
    n_words = F.size(words(F.col("text")))
    cjk = F.size(F.regexp_extract_all(F.col("text"), F.lit(CJK_RE), F.lit(0)))
    expr = F.lit("und")
    for lang in reversed(LANG_ORDER):
        idx = LANG_ORDER.index(lang)
        cond = hits[lang] > 0
        for o in LANG_ORDER[:idx]:
            cond = cond & (hits[lang] > hits[o])  # earlier langs win ties
        for o in LANG_ORDER[idx + 1 :]:
            cond = cond & (hits[lang] >= hits[o])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    lang_col = F.when(cjk > 0, F.lit("zh")).otherwise(expr)
    conf = F.round(F.greatest(*[hits[lang] for lang in LANG_ORDER]) / n_words, 6)
    return d.select(
        "doc_id", lang_col.alias("pred_lang"), conf.alias("confidence")
    )


def _lang_oracle_sql() -> str:
    """text_language_id oracle: ONE unnest pass computes every
    language's stopword-hit count as a hash-set-membership filtered
    aggregate, and the argmax CASE references the counts as columns.
    The previous form inlined ``len(list_filter(w, list_contains(...)))``
    per argmax comparison — ~25 linear stopword-list scans of every
    word list per row, 69s of the sf1 gate for this one oracle; this
    form reads 0.97s with byte-identical results at sf0.01 and sf1
    (verified by fetchall comparison). Semantics preserved exactly:
    count(*) per doc equals len(w) (unnest emits one row per split
    part), counts are BIGINT like len(), and the CASE/confidence
    arithmetic is unchanged."""

    def inset(lang: str) -> str:
        return "(" + ",".join(f"'{s}'" for s in STOPWORDS[lang]) + ")"

    hit_cols = ", ".join(
        f"count(*) FILTER (WHERE x IN {inset(lang)}) AS h_{lang}"
        for lang in LANG_ORDER
    )
    cases = []
    for lang in LANG_ORDER:
        idx = LANG_ORDER.index(lang)
        conds = [f"h_{lang} > 0"]
        for o in LANG_ORDER[:idx]:
            conds.append(f"h_{lang} > h_{o}")
        for o in LANG_ORDER[idx + 1 :]:
            conds.append(f"h_{lang} >= h_{o}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    lang_case = (
        f"CASE WHEN len(regexp_extract_all(d.text, '{CJK_RE}')) > 0 "
        "THEN 'zh' "
        + " ".join(cases)
        + " ELSE 'und' END"
    )
    conf_sql = (
        "round(greatest("
        + ", ".join(f"h_{lang}" for lang in LANG_ORDER)
        + ")::DOUBLE / nw, 6)"
    )
    return f"""
    WITH wx AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS x FROM documents
    ), h AS (
        SELECT doc_id, count(*) AS nw, {hit_cols} FROM wx GROUP BY doc_id
    )
    SELECT d.doc_id, {lang_case} AS pred_lang, {conf_sql} AS confidence
    FROM documents d JOIN h USING (doc_id)
    ORDER BY d.doc_id
    """


@query("text_language_id", oracle=_lang_oracle_sql())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword/charset language-ID heuristic: CJK charset check, then
    per-language stopword votes with fixed-precedence argmax."""
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    return _with_lang_cols(docs).sortWithinPartitions("doc_id")


@query(
    "text_fingerprint_winnow",
    oracle=f"""
    SELECT doc_id,
           CAST(len(fp) AS INT) AS n_fp,
           array_to_string(fp, ',') AS fp_list
    FROM ({winnow_fingerprints_table_sql("documents", "doc_id", "text", FP_K, FP_W)})
    ORDER BY doc_id
    """,
)
def text_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (k=5 word-grams, window=4): the rolling-hash
    document fingerprint; emitted as a joined string for stable hashing.
    Codegen path (posexplode + window lead/min) — the HOF-lambda variant
    was 23% of the round-1 bench."""
    docs = _t(spark, sf_dir, "documents")
    fp = winnow_fingerprints_exploded(docs, "doc_id", "text", FP_K, FP_W)
    empty = F.array().cast("array<long>")
    return (
        docs.select("doc_id")
        .join(fp, "doc_id", "left")
        .select("doc_id", F.coalesce("fp", empty).alias("fp"))
        .select(
            "doc_id",
            F.size("fp").cast("int").alias("n_fp"),
            F.array_join("fp", ",").alias("fp_list"),
        )
        .orderBy("doc_id")
    )


# --- model-based quality filter (fastText-style linear head) -------------

CLF_DIM, CLF_N, CLF_SEED = 64, 2, 11


def _clf_weights() -> tuple[list[float], float]:
    """Seeded Gaussian weights + bias for the linear quality head. A
    trained classifier drops into the same shape; the seeded form keeps
    the gate oracle exact (weights embedded as literals on both sides,
    the LSH-planes technique). Thresholding the RAW logit (not a
    sigmoid) keeps the comparison free of transcendental functions
    whose last-bit rounding differs across libms."""
    import numpy as np

    rng = np.random.default_rng(CLF_SEED)
    return [float(x) for x in rng.standard_normal(CLF_DIM)], float(
        rng.standard_normal()
    )


def _clf_oracle() -> str:
    from bento_spark.operators.featurize import embedding_sql_cte

    w, b = _clf_weights()
    cte = embedding_sql_cte("documents", "doc_id", "text", CLF_DIM, CLF_N)

    def _f(x: float) -> str:
        r = repr(x)
        return r if "e" in r or "E" in r else r + "e0"

    dense_cols = ", ".join(
        f"coalesce(max(CASE WHEN bucket = {j} THEN val END), 0) AS v{j}"
        for j in range(CLF_DIM)
    )
    logit = " + ".join(f"v{j} * {_f(w[j])}" for j in range(CLF_DIM))
    return f"""
WITH {cte},
__dense AS (SELECT id, {dense_cols} FROM __emb GROUP BY id)
SELECT id AS doc_id, ({logit}) + {_f(b)} AS logit,
       (({logit}) + {_f(b)}) > 0 AS keep
FROM __dense ORDER BY doc_id
"""


@query("text_quality_classifier", oracle=_clf_oracle())
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the fastText-classifier slot of a
    training-data pipeline (hashed n-gram features x linear head, the
    CCNet/fastText quality-filter shape): the existing featurizer
    (operators/featurize.py, real predict_batch_udf path) produces
    integer count vectors; the logit is ONE codegen'd literal dot chain
    (no UDF after the featurizer), so score and keep-decision are
    hash-checked against the oracle recomputing the same weights.

    100 TB: featurize + score is a narrow map; the filter is a Column
    predicate Catalyst pushes wherever it helps. No shuffle at all."""
    from bento_spark.operators.dedup import range_spread
    from bento_spark.operators.featurize import hashed_ngram_embedder

    w, b = _clf_weights()
    embed = hashed_ngram_embedder(CLF_DIM, CLF_N)
    # range_spread on the output sort key: the final global orderBy's
    # boundary-sampling job would otherwise run the featurizer twice
    # per execution (operators/dedup.range_spread; measured 2.5 -> 1.9s
    # at sf1).
    docs = range_spread(
        _t(spark, sf_dir, "documents").filter(
            F.size(F.split(F.col("text"), " ")) >= CLF_N
        ),
        "doc_id",
    ).select("doc_id", embed(F.col("text")).alias("vec"))
    logit_sql = " + ".join(f"vec[{j}] * {w[j]!r}D" for j in range(CLF_DIM))
    scored = docs.select(
        "doc_id", F.expr(f"({logit_sql}) + {b!r}D").alias("logit")
    )
    return scored.withColumn("keep", F.col("logit") > 0).sortWithinPartitions(
        "doc_id"
    )


@query(
    "text_unigram_logprob",
    oracle=unigram_logprob_sql("documents", "doc_id", "text"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average unigram log-probability per document under the corpus's
    own unigram LM (CCNet/KenLM-style perplexity proxy for quality
    filtering, without an external model). Three bounded shuffles, no
    UDF — see functions/textops.unigram_logprob."""
    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs, "doc_id", "text").orderBy("doc_id")


from bento_spark.functions.textops import chunk_windows, chunk_windows_sql  # noqa: E402

CHUNK_W, CHUNK_S = 64, 48


@query(
    "text_chunk_windows",
    oracle=chunk_windows_sql("documents", "doc_id", "text", CHUNK_W, CHUNK_S)
    + " ORDER BY doc_id, chunk_idx",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows every 48 —
    the RAG-indexing / context-packing chunker): sequence+explode for
    chunk starts, slice/concat_ws for the chunk — a narrow Generate,
    zero shuffles, no HOF lambda."""
    from bento_spark.operators.dedup import range_spread

    docs = range_spread(_t(spark, sf_dir, "documents"), "doc_id")
    return chunk_windows(
        docs, "doc_id", "text", CHUNK_W, CHUNK_S
    ).sortWithinPartitions("doc_id", "chunk_idx")
