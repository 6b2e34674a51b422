"""The processor plane: DataFrame -> DataFrame transforms implementing
the reference's pure processors (SURVEY.md §2.1) Spark-first.

Each function cites its reference counterpart. Processors that are
no-ops under Spark's execution model (for_each, parallel, split,
noop, sleep) are documented in COVERAGE.md rather than implemented as
code — partitioning/parallelism are the engine's job here.

All transforms are error-transparent per the envelope convention
(operators/envelope.py): rows with ``_error`` set pass through
untouched unless a processor explicitly targets them (catch_errors).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bento_spark.operators.envelope import ERROR, META, ensure_envelope, ok

Assignments = Mapping[str, Column]


def mapping(df: DataFrame, assigns: Assignments, drop_when: Column | None = None) -> DataFrame:
    """Bloblang ``mapping`` processor: produce a NEW document from
    computed fields (internal/impl/pure/processor_mapping.go:15).
    ``drop_when`` is root = deleted() (type_helpers.go:74-78)."""
    df = ensure_envelope(df)
    out = df.select(
        *[v.alias(k) for k, v in assigns.items()], F.col(META), F.col(ERROR)
    )
    if drop_when is not None:
        out = out.filter(~F.coalesce(drop_when, F.lit(False)))
    return out


def mutation(df: DataFrame, assigns: Assignments, drop_when: Column | None = None) -> DataFrame:
    """Bloblang ``mutation``: assign fields IN PLACE on the document
    (processor_mutation.go:15); error-transparent per assignment."""
    df = ensure_envelope(df)
    out = df.withColumns(
        {k: F.when(ok(df), v).otherwise(F.col(k) if k in df.columns else F.lit(None)) for k, v in assigns.items()}
    )
    if drop_when is not None:
        out = out.filter(~(ok(out) & F.coalesce(drop_when, F.lit(False))))
    return out


def switch_cases(
    df: DataFrame,
    cases: list[tuple[Column | None, Assignments]],
) -> DataFrame:
    """``switch`` processor, first-matching-case semantics
    (processor_switch.go:77) compiled to when/otherwise chains. A None
    condition is the default case."""
    df = ensure_envelope(df)
    targets = {k for _, assigns in cases for k in assigns}
    updates = {}
    for k in targets:
        expr = F.col(k) if k in df.columns else F.lit(None)
        # build bottom-up: last case is innermost otherwise
        for cond, assigns in reversed(cases):
            val = assigns.get(k)
            if val is None:
                continue
            if cond is None:
                expr = val
            else:
                expr = F.when(F.coalesce(cond, F.lit(False)), val).otherwise(expr)
        updates[k] = F.when(ok(df), expr).otherwise(
            F.col(k) if k in df.columns else F.lit(None)
        )
    return df.withColumns(updates)


def try_assign(df: DataFrame, assigns: Assignments, err_msg: Column | None = None) -> DataFrame:
    """``try`` semantics (processor_try.go:15): apply assignments; rows
    where any assignment evaluates to NULL-from-failure get ``_error``
    set and keep their original values. Pass expressions built with
    try_* functions (try_divide, try_to_timestamp, from_json -> NULL...)
    so failure surfaces as NULL, the JVM-side error signal."""
    df = ensure_envelope(df)
    failed = None
    for _, v in assigns.items():
        bad = v.isNull()
        failed = bad if failed is None else (failed | bad)
    failed = F.coalesce(failed, F.lit(False)) & ok(df)
    out = df.withColumns(
        {
            k: F.when(ok(df) & ~failed, v).otherwise(
                F.col(k) if k in df.columns else F.lit(None)
            )
            for k, v in assigns.items()
        }
    )
    msg = err_msg if err_msg is not None else F.lit("processor failed")
    return out.withColumn(
        ERROR, F.when(failed, msg).otherwise(F.col(ERROR))
    )


def catch_errors(df: DataFrame, recover: Assignments) -> DataFrame:
    """``catch`` (processor_catch.go:13): run recovery assignments only
    on errored rows, then clear the error flag."""
    df = ensure_envelope(df)
    errored = F.col(ERROR).isNotNull()
    out = df.withColumns(
        {k: F.when(errored, v).otherwise(F.col(k) if k in df.columns else F.lit(None)) for k, v in recover.items()}
    )
    return out.withColumn(ERROR, F.lit(None).cast("string"))


def dedupe(df: DataFrame, key: list[str | Column], order_by: list[Column] | None = None) -> DataFrame:
    """``dedupe`` processor (processor_dedupe.go:81): keep one row per
    key. With ``order_by``, keeps the first row in that order (exact,
    deterministic — a window top-1, one hash shuffle); without, Spark's
    dropDuplicates (cheaper, arbitrary survivor). Streaming pipelines
    use dropDuplicatesWithinWatermark instead (streaming/)."""
    df = ensure_envelope(df)
    if order_by is None:
        return df.dropDuplicates([k if isinstance(k, str) else k._jc.toString() for k in key])
    w = Window.partitionBy(*key).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def group_by_value(df: DataFrame, key: Column, aggs: list[Column]) -> DataFrame:
    """``group_by_value`` (processor_group_by_value.go:21) + the Bloblang
    from_all/sum/fold idiom (SURVEY §2.5): a plain groupBy-agg."""
    return df.groupBy(key).agg(*aggs)


def archive_json_array(df: DataFrame, group: Column, sort_by: list[Column], payload: Column) -> DataFrame:
    """``archive`` format=json_array (processor_archive.go:59): batch ->
    one message whose body is a JSON array. Grouping key = the batch;
    deterministic element order via sort_by."""
    df = ensure_envelope(df)
    item = F.struct(*sort_by, payload.alias("payload"))
    return (
        df.groupBy(group.alias("group_key"))
        .agg(
            F.to_json(
                F.transform(F.array_sort(F.collect_list(item)), lambda s: s["payload"])
            ).alias("archived"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def unarchive_json_array(df: DataFrame, json_col: str, element_schema: str) -> DataFrame:
    """``unarchive`` format=json_array (processor_unarchive.go:49): one
    message -> many via explode(from_json(...))."""
    from pyspark.sql.types import ArrayType, StructType

    df = ensure_envelope(df)
    other = [c for c in df.columns if c != json_col]
    schema = ArrayType(StructType.fromDDL(element_schema))
    return df.select(
        *other,
        F.explode(F.from_json(F.col(json_col), schema)).alias("_el"),
    ).select(*other, "_el.*")


def archive_lines(df: DataFrame, group: Column, sort_by: list[Column], payload: Column) -> DataFrame:
    """``archive`` format=lines (processor_archive.go:59): batch -> one
    newline-joined message."""
    df = ensure_envelope(df)
    item = F.struct(*sort_by, payload.alias("payload"))
    return df.groupBy(group.alias("group_key")).agg(
        F.concat_ws(
            "\n", F.transform(F.array_sort(F.collect_list(item)), lambda s: s["payload"])
        ).alias("archived"),
        F.count(F.lit(1)).alias("n_items"),
    )


def unarchive_lines(df: DataFrame, col: str) -> DataFrame:
    """``unarchive`` format=lines (processor_unarchive.go:49): split on
    newline + posexplode, line index preserved."""
    df = ensure_envelope(df)
    other = [c for c in df.columns if c != col]
    return df.select(
        *other, F.posexplode(F.split(F.col(col), "\n")).alias("line_idx", "line")
    )


def branch(
    df: DataFrame,
    child: Callable[[DataFrame], DataFrame],
    on: list[str],
    result_cols: list[str],
) -> DataFrame:
    """``branch`` processor (processor_branch.go:152): request_map ->
    child pipeline -> result_map merged onto the original. Spark shape:
    the child runs on a projection and joins back — the request_map is
    column pruning, the result_map is the join projection. Broadcast
    when the child output is dim-sized."""
    df = ensure_envelope(df)
    side = child(df)
    keep = [F.col(c) for c in on + result_cols]
    return df.join(F.broadcast(side.select(*keep)), on, "left")


def cache_get(
    df: DataFrame, cache_df: DataFrame, key: list[str], value_cols: list[str]
) -> DataFrame:
    """``cache`` get (processor_cache.go:154) / ``sql_select`` enrichment
    (processor_sql_select.go:21): stream-static join against a keyed
    table; broadcast (dims are small by definition of a cache)."""
    df = ensure_envelope(df)
    side = cache_df.select(*key, *value_cols)
    return df.join(F.broadcast(side), key, "left")


def json_schema_validate(
    df: DataFrame, col: str, schema_ddl: str, required: list[str] | None = None
) -> DataFrame:
    """``json_schema`` processor (processor_jsonschema.go:93): rows whose
    JSON fails to parse against the schema — or misses required fields —
    get the error flag; valid rows get the typed struct in `parsed`."""
    df = ensure_envelope(df)
    parsed = F.from_json(F.col(col), schema_ddl)
    out = df.withColumn("parsed", parsed)
    bad = F.col("parsed").isNull()
    for field in required or []:
        bad = bad | F.col("parsed")[field].isNull()
    return out.withColumn(
        ERROR,
        F.when(ok(df) & bad, F.lit("json_schema: validation failed")).otherwise(
            F.col(ERROR)
        ),
    )


def json_schema_bad(json_col: Column, schema: dict) -> Column:
    """True where the JSON string fails the (subset) JSON-Schema: type /
    enum / minimum / maximum / pattern / required, all as pure
    expressions over a parsed VARIANT (codegen; no UDF). Shared by the
    ``json_schema`` processor and the Bloblang ``json_schema`` method.

    JSON `null` and an absent property are both treated as missing (the
    variant path returns SQL NULL for either)."""
    v = F.parse_json(json_col)
    _TYPES = {
        "integer": ("BIGINT", "INT", "SMALLINT", "TINYINT"),
        "number": ("BIGINT", "INT", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT",
                   "DECIMAL"),
        "string": ("STRING",),
        "boolean": ("BOOLEAN",),
    }
    problems: list[Column] = [v.isNull()]  # unparseable JSON
    required = set(schema.get("required", []))
    for prop, spec in (schema.get("properties") or {}).items():
        path = f"$.{prop}"
        sub = F.try_variant_get(v, path, "variant")
        present = sub.isNotNull()
        if prop in required:
            problems.append(~present)
        t = spec.get("type")
        if t in _TYPES:
            vt = F.schema_of_variant(sub)
            ok_t = F.lit(False)
            for allowed in _TYPES[t]:
                ok_t = ok_t | vt.startswith(allowed)
            problems.append(present & ~ok_t)
        elif t == "array":
            problems.append(present & ~F.schema_of_variant(sub).startswith("ARRAY"))
        elif t == "object":
            vt = F.schema_of_variant(sub)
            problems.append(
                present & ~(vt.startswith("OBJECT") | vt.startswith("STRUCT"))
            )
        if "enum" in spec:
            sval = F.try_variant_get(v, path, "string")
            problems.append(present & ~sval.isin([str(x) for x in spec["enum"]]))
        if "minimum" in spec:
            nval = F.try_variant_get(v, path, "double")
            problems.append(present & (nval.isNull() | (nval < spec["minimum"])))
        if "maximum" in spec:
            nval = F.try_variant_get(v, path, "double")
            problems.append(present & (nval.isNull() | (nval > spec["maximum"])))
        if "pattern" in spec:
            sval = F.try_variant_get(v, path, "string")
            problems.append(present & (sval.isNull() | ~sval.rlike(spec["pattern"])))
    bad = problems[0]
    for p in problems[1:]:
        bad = bad | p
    return bad


def json_schema_full(df: DataFrame, col: str, schema: dict) -> DataFrame:
    """``json_schema`` with real JSON-Schema semantics
    (processor_jsonschema.go:93): invalid rows get the error flag."""
    df = ensure_envelope(df)
    bad = json_schema_bad(F.col(col), schema)
    return df.withColumn(
        ERROR,
        F.when(ok(df) & bad, F.lit("json_schema: validation failed")).otherwise(
            F.col(ERROR)
        ),
    )


def chunk_text(df: DataFrame, col: str, size: int) -> DataFrame:
    """``chunker`` scanner (scanner_chunker.go): one message -> fixed
    size chunks with their index; pure substring arithmetic."""
    df = ensure_envelope(df)
    n_chunks = F.ceil(F.length(F.col(col)) / F.lit(size)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    other = [c for c in df.columns if c != col]
    return df.select(
        *other,
        F.posexplode(
            F.transform(idx, lambda i: F.col(col).substr(i * size + 1, F.lit(size)))
        ).alias("chunk_idx", "chunk"),
    )


def select_parts(df: DataFrame, order_by: list[Column], indexes: list[int]) -> DataFrame:
    """``select_parts`` (processor_select_parts.go:17): batch-positional
    selection becomes an explicit ordering + row_number filter.

    Scale shape: positions are bounded by max(indexes), so the input is
    first cut to the max(indexes)+1 smallest rows — Spark plans
    ``orderBy().limit(m)`` as TakeOrderedAndProject (per-partition
    partial top-k merged on the driver, no global sort). The global
    row_number window that assigns positions then runs over at most m
    rows, not the corpus."""
    df = ensure_envelope(df)
    wanted = [i + 1 for i in indexes]  # reference is 0-based
    top = df.orderBy(*order_by).limit(max(wanted))
    w = Window.orderBy(*order_by)
    return (
        top.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn").isin(wanted))
        .drop("__rn")
    )


def bounds_check(
    df: DataFrame,
    measure: Column,
    min_val: int | None = None,
    max_val: int | None = None,
) -> DataFrame:
    """``bounds_check`` (processor_bounds_check.go:46): drop rows outside
    size bounds — a pushdown-friendly filter."""
    cond = F.lit(True)
    if min_val is not None:
        cond = cond & (measure >= min_val)
    if max_val is not None:
        cond = cond & (measure <= max_val)
    return df.filter(cond)


def set_metadata(df: DataFrame, entries: Mapping[str, Column]) -> DataFrame:
    """``meta x = ...`` assignment (mapping/assignment.go:73); re-setting
    an existing key overwrites it (map_concat alone would throw
    DUPLICATED_MAP_KEY under Spark's default dedup policy)."""
    from bento_spark.bloblang.stdlib import map_overwrite

    df = ensure_envelope(df)
    pairs: list[Column] = []
    for k, v in entries.items():
        pairs += [F.lit(k), v.cast("string")]
    return df.withColumn(META, map_overwrite(F.col(META), F.create_map(*pairs)))


def retry(
    df: DataFrame,
    child: Callable[[DataFrame], DataFrame],
    attempts: int = 3,
) -> DataFrame:
    """``retry`` processor (internal/impl/pure/processor_retry.go):
    re-run the child over rows that errored, up to ``attempts`` total
    applications; rows that succeed keep their first successful result.

    Spark spelling: the retry loop unrolls at PLAN level — each round
    splits (ok, errored), clears the error flag on the errored slice,
    re-applies the child, and unions. Deterministic children converge
    immediately (same in the reference — retrying a pure mapping cannot
    change the outcome); the processor earns its keep on effectful
    children (http, cache) where a later application can succeed.
    Backoff is meaningless under batch re-execution and is dropped.
    Spark caches no streaming plan, so on a stream a child whose outcome
    changes between evaluations can lose or double a row.
    """
    df = ensure_envelope(df)
    out = child(df)
    for _ in range(attempts - 1):
        out = ensure_envelope(out)
        if not out.isStreaming:
            # pin the child's outcome before splitting: filtering one
            # plan twice re-runs a NONDETERMINISTIC child per branch, so
            # a row flipping outcomes would land in both or neither.
            # localCheckpoint: the ContextCleaner reaps it, unlike persist
            out = out.localCheckpoint(eager=False)
        good = out.filter(ok(out))
        bad = out.filter(~ok(out)).withColumn(ERROR, F.lit(None).cast("string"))
        # the child re-runs on its own output, which may add columns
        out = good.unionByName(
            ensure_envelope(child(bad)), allowMissingColumns=True
        )
    return out


def reject_errored(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``reject_errored`` output wrapper (output_reject.go:18): split the
    stream into (ok, dead-letter) branches — two filtered writers."""
    df = ensure_envelope(df)
    return df.filter(ok(df)), df.filter(~ok(df))


def pipeline(*procs: Callable[[DataFrame], DataFrame]) -> Callable[[DataFrame], DataFrame]:
    """``processors`` grouping (processor_processors.go:39): composition."""

    def run(df: DataFrame) -> DataFrame:
        for p in procs:
            df = p(df)
        return df

    return run
