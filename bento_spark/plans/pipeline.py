"""Pipeline builder: validated config -> DataFrame chain -> sink.

The processor table below is the config-facing surface of
operators/processors.py + the Bloblang compiler; each key cites its
reference processor (SURVEY §2.1).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bento_spark.bloblang import compile_expr, compile_mapping
from bento_spark.operators import processors as P
from bento_spark.plans.config import ConfigError, load_config
from bento_spark.sinks import run_sink
from bento_spark.sources import build_source


class RejectedBatchError(RuntimeError):
    """error_handling strategy=reject with no dlq_path: errored
    messages have nowhere to go, so the run fails — the batch analog of
    the reference's strict-mode nack (internal/bundle/strict/)."""


def _lift_content(df: DataFrame) -> DataFrame:
    """Mid-pipeline re-lift: when the document is a single JSON-text
    `content` column (e.g. after a to_json codec step), parse it into
    typed columns so `this.<field>` resolves — the engine's answer to
    the reference's lazy dual representation (data.go:57-68). Schema is
    inferred from a bounded sample; non-JSON content stays raw."""
    import json as _json

    from bento_spark.operators.envelope import data_cols

    if data_cols(df) != ["content"]:
        return df
    if df.isStreaming:
        # schema inference needs a driver-side sample, which streaming
        # plans forbid; typed mappings over streams ride the per-message
        # interpreter fallback instead (same results, slow path, logged)
        return df
    sample = [r[0] for r in df.select("content").limit(20).collect()]
    docs = []
    for c in sample:
        if c is None:
            continue  # errored rows (null content) lift to null fields
        try:
            d = _json.loads(c)
        except ValueError:
            return df
        if not isinstance(d, dict) or not d:
            return df
        docs.append(c)
    if not docs:
        return df
    spark = df.sparkSession
    schema = spark.read.json(spark.sparkContext.parallelize(docs, 1)).schema
    # lossy shapes (mixed-type arrays, heterogeneous object arrays):
    # keep exactly those fields VARIANT so the union can't retype them
    from bento_spark.operators.variantlift import (
        lossy_field_paths, override_to_variant,
    )

    lossy = lossy_field_paths([_json.loads(c) for c in docs])
    if lossy:
        schema = override_to_variant(schema, lossy)
    other = [c for c in df.columns if c != "content"]
    return df.select(
        *other, F.from_json(F.col("content"), schema).alias("__doc")
    ).select(*other, "__doc.*")


def _proc_mapping(df: DataFrame, conf) -> DataFrame:
    """`mapping` (processor_mapping.go:15): new document. Mappings the
    Column compiler cannot express (recursive named maps walking
    arbitrary-depth JSON) fall back to the tier-c Arrow-batched
    interpreter (bloblang/interp.py) — per-message tree walking, the
    reference's own execution model, traded in only on demand."""
    from pyspark.errors.exceptions.base import AnalysisException

    from bento_spark.bloblang.compiler import UnsupportedConstruct
    from bento_spark.bloblang.stdlib import NonConstantArg, ThrowInExpression

    src = conf if isinstance(conf, str) else conf["query"]
    if src.strip() == "root = deleted()":
        # the reference's drop-everything idiom (e.g. after metrics
        # processors); the compiler rejects it inside larger mappings
        # where it is almost always a bug, but standalone it is the
        # documented way to discard the stream
        return ensure_env(df).filter(F.lit(False))
    lifted = _lift_content(df)
    try:
        return compile_mapping(src).apply(lifted, new_document=True)
    except (RecursionError, AnalysisException, ThrowInExpression,
            UnsupportedConstruct, NonConstantArg,
            TypeError, AttributeError) as ex:
        # TypeError/AttributeError here are PLAN-BUILD failures (a
        # builder got a shape it can't compile — e.g. a lambda where a
        # value belongs); the interpreter executes the same construct
        # per message, so routing preserves results and the meter keeps
        # it visible. Unknown-name CompileErrors still fail loudly.
        # recursion the column engine can't inline, or a per-message
        # dynamic type error (the reference surfaces those on each
        # message's error, not as config failures)
        #
        # The trade-in is a 10-100x perf cliff (codegen'd Columns ->
        # per-message Python tree walk) that stays RESULT-correct, so
        # it must never happen silently: every engagement is counted in
        # the default MetricsRegistry and logged with the mapping
        # source. tests/test_interp_fallback_gate.py asserts the gate /
        # bench mappings never engage it — a compiler regression that
        # demotes a hot path turns CI red instead of just slow.
        import logging

        from bento_spark.bloblang.interp import interpreted_mapping_df
        from bento_spark.observability import default_registry

        default_registry().counter(
            "bloblang.interpreter_fallback", reason=type(ex).__name__
        )
        logging.getLogger("bento_spark.bloblang").warning(
            "mapping fell back to the tier-c interpreter (%s); source: %.200s",
            type(ex).__name__,
            src,
        )
        return interpreted_mapping_df(df, src)


def _proc_mutation(df: DataFrame, conf) -> DataFrame:
    """`mutation` (processor_mutation.go:15): in-place assignment.
    Falls back to the tier-c interpreter like `mapping` — mutation
    semantics = the same mapping with root pre-seeded to the document
    (`root = this` prefix), counted/logged identically."""
    from pyspark.errors.exceptions.base import AnalysisException

    from bento_spark.bloblang.compiler import UnsupportedConstruct
    from bento_spark.bloblang.stdlib import NonConstantArg, ThrowInExpression

    src = conf if isinstance(conf, str) else conf["query"]
    try:
        return compile_mapping(src).apply(_lift_content(df), new_document=False)
    except (RecursionError, AnalysisException, ThrowInExpression,
            UnsupportedConstruct, NonConstantArg,
            TypeError, AttributeError) as ex:
        # TypeError/AttributeError here are PLAN-BUILD failures (a
        # builder got a shape it can't compile — e.g. a lambda where a
        # value belongs); the interpreter executes the same construct
        # per message, so routing preserves results and the meter keeps
        # it visible. Unknown-name CompileErrors still fail loudly.
        import logging

        from bento_spark.bloblang.interp import interpreted_mapping_df
        from bento_spark.observability import default_registry

        default_registry().counter(
            "bloblang.interpreter_fallback", reason=type(ex).__name__
        )
        logging.getLogger("bento_spark.bloblang").warning(
            "mutation fell back to the tier-c interpreter (%s); source: %.200s",
            type(ex).__name__, src,
        )
        return interpreted_mapping_df(df, "root = this\n" + src)


def _proc_filter(df: DataFrame, conf) -> DataFrame:
    """Root-deletion sugar: keep rows where the check holds (the
    `mapping` root = deleted() idiom as a direct filter)."""
    check = conf if isinstance(conf, str) else conf["check"]
    return df.filter(compile_expr(check, df=df))


#: named cache resources (`cache_resources:` — caches/about.md); the
#: test runner re-registers per case so cross-batch state is scoped
CACHE_RESOURCES: dict[str, object] = {}

#: lint-mode escape hatch (mutable flag cell): docs examples and
#: lint-only builds may reference resources declared in files the
#: build doesn't see (the reference's `bento lint -r resources.yaml`
#: pattern, internal/cli/lint.go). When enabled, unknown
#: cache/processor resources resolve to benign placeholders (empty
#: memory cache / noop) instead of failing the build. NEVER enabled
#: for real runs — execution semantics require the real resource.
PLACEHOLDER_RESOURCES = [False]


class _PlaceholderCache(dict):
    """Lint-build stand-in: dict-style access for the Bloblang cache_*
    functions plus the KV mget/mset/close surface the processor
    plumbing drives."""

    def mget(self, keys):
        return [self.get(k) for k in keys]

    def mset(self, pairs):
        self.update(pairs)

    def close(self):
        pass


def _placeholder_cache(label: str):
    """Register-and-return an empty memory cache for lint builds."""
    CACHE_RESOURCES[label] = _PlaceholderCache()
    CACHE_RESOURCE_CONFS.setdefault(label, {"memory": {}})
    return CACHE_RESOURCES[label]


#: raw conf per cache label — the streaming cache processor rebuilds
#: the backend per executor from this (remote backends share state by
#: nature; in-memory ones are executor-scoped there, documented)
CACHE_RESOURCE_CONFS: dict[str, dict] = {}


def register_cache_resources(confs: list[dict] | None) -> None:
    from bento_spark.operators.cachepolicy import cache_from_conf

    for res in confs or []:
        res = dict(res)
        label = res.pop("label", None)
        if not label:
            raise ConfigError("cache_resources entries require a `label`")
        CACHE_RESOURCES[label] = cache_from_conf(res)
        CACHE_RESOURCE_CONFS[label] = res


def _proc_dedupe(df: DataFrame, conf) -> DataFrame:
    """`dedupe` (processor_dedupe.go:81). Two forms:

    * column keys -> distributed dropDuplicates (the Spark-native form);
    * ``cache:`` label + interpolated ``key`` -> the reference's
      cache-backed add-op dedupe, which persists across BATCHES. The
      distinct keys (only the key column, deduped) are checked against
      the named cache driver-side and the admitted set marks the cache;
      bounded at 1M distinct keys per batch — corpus-scale dedup
      belongs on `dropDuplicatesWithinWatermark` / the dedup operator
      suite, which this form intentionally is not."""
    if "cache" in conf:
        from bento_spark.bloblang.field import compile_field

        cache = CACHE_RESOURCES.get(conf["cache"])
        if cache is None:
            if PLACEHOLDER_RESOURCES[0]:
                cache = _placeholder_cache(conf["cache"])
            else:
                raise ConfigError(
                    f"unknown cache resource {conf['cache']!r} "
                    f"(have {sorted(CACHE_RESOURCES)})"
                )
        key = conf.get("key", "${! content() }")
        df = df.withColumn("__dedupe_key", compile_field(str(key), df))
        keys = [r[0] for r in df.select("__dedupe_key").distinct().limit(
            1_000_001).collect()]
        if len(keys) > 1_000_000:
            raise ConfigError(
                "cache-backed dedupe exceeds 1M distinct keys per batch; "
                "use dropDuplicates/dedup operators for corpus-scale"
            )
        hits = cache.mget(keys)
        fresh = [k for k, h in zip(keys, hits) if h is None]
        cache.mset([(k, "1") for k in fresh])
        out = df.filter(F.col("__dedupe_key").isin(fresh)) if fresh else (
            df.limit(0)
        )
        # batch-order survivor: FIFO keeps the first occurrence (the
        # default), strategy: LIFO the last (processor_dedupe.go
        # strategy field); order = __idx when the test runner stamps it
        order_col = "__idx" if "__idx" in df.columns else None
        lifo = str(conf.get("strategy", "FIFO")).upper() == "LIFO"
        order = None
        if order_col:
            c = F.col(order_col)
            order = [c.desc() if lifo else c]
        out = P.dedupe(out, [F.col("__dedupe_key")], order_by=order)
        return out.drop("__dedupe_key")
    keys = conf["key"] if isinstance(conf["key"], list) else [conf["key"]]
    order = [F.col(c) for c in conf.get("order_by", [])] or None
    return P.dedupe(df, [F.col(k) for k in keys], order_by=order)


def _proc_bounds_check(df: DataFrame, conf) -> DataFrame:
    """`bounds_check` (processor_bounds_check.go:46)."""
    measure = compile_expr(conf["measure"], df=df)
    return P.bounds_check(df, measure, conf.get("min"), conf.get("max"))


def _proc_sql(df: DataFrame, conf) -> DataFrame:
    """`sql_select`-style processor (processor_sql_select.go:21) gone
    Spark-native: the current stream is a view, transform with ANSI SQL."""
    view = conf.get("view", "stream")
    q = conf if isinstance(conf, str) else conf["query"]
    df.createOrReplaceTempView(view)
    return df.sparkSession.sql(q)


def _proc_window_agg(df: DataFrame, conf) -> DataFrame:
    """`system_window` buffer + group_by_value + fold collapse
    (buffer_system_window.go:137) as one declarative step."""
    from bento_spark.streaming import windows as W

    ts = conf["timestamp"]
    size = conf["size"]
    slide = conf.get("slide")
    win = W.sliding(ts, size, slide) if slide else W.tumbling(ts, size)
    keys = [F.col(k) for k in conf.get("keys", [])]
    aggs = [
        compile_expr(a["expr"], df=df).alias(a["name"])
        if isinstance(a, dict)
        else F.expr(a)
        for a in conf["aggs"]
    ]
    return W.windowed_agg(
        df, ts, win, keys, aggs, watermark=conf.get("allowed_lateness")
    )


def _proc_group_by(df: DataFrame, conf) -> DataFrame:
    """`group_by_value` (processor_group_by_value.go:21): plain column
    names group directly; anything else is a Bloblang key expression."""
    import re

    keys = []
    for i, k in enumerate(conf["keys"]):
        if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", k):
            keys.append(F.col(k))
        else:
            keys.append(compile_expr(k, df=df).alias(f"key_{i}"))
    aggs = [F.expr(a) for a in conf["aggs"]]
    return df.groupBy(*keys).agg(*aggs)


def _proc_select_parts(df: DataFrame, conf) -> DataFrame:
    """`select_parts` (processor_select_parts.go:17)."""
    order = [F.col(c) for c in conf["order_by"]]
    return P.select_parts(df, order, conf["parts"])


def _proc_catch(df: DataFrame, conf) -> DataFrame:
    """`catch` (processor_catch.go:13): recovery on errored rows — a
    mapping string, or child processors (the reference's list form)
    whose mappings apply to errored rows then clear the flag."""
    if isinstance(conf, list):
        # processor_catch.go semantics: every child in the chain runs
        # against the ERRORED messages with the error still visible
        # (error() reads it), and the flag clears ONCE when the whole
        # catch completes — clearing between children (the old shape)
        # made a later `root = deleted()` drop-idiom child see nothing.
        from bento_spark.operators.envelope import ERROR, ensure_envelope

        out = ensure_envelope(df)
        for child in conf:
            (pname, pconf), = (
                child.items() if len(child) == 1
                else ((k, v) for k, v in child.items() if k != "label")
            )
            if pname in ("bloblang", "mapping", "mutation"):
                src = pconf if isinstance(pconf, str) else pconf["query"]
                if src.strip() == "root = deleted()":
                    # the reference's log-and-drop pattern (its own
                    # template example): deleted() inside catch drops
                    # exactly the errored messages
                    out = out.filter(F.col(ERROR).isNull())
                    continue
                plan = compile_mapping(src)
                assigns, _m, _d, _c = plan.compile_for(out)
                errored = F.col(ERROR).isNotNull()
                out = out.withColumns({
                    k: F.when(errored, v).otherwise(
                        F.col(k) if k in out.columns else F.lit(None)
                    )
                    for k, v in dict(assigns).items()
                })
            else:
                # general children (log/http/...): split-apply-union on
                # the errored subset, flag preserved until the end
                errored_rows = out.filter(F.col(ERROR).isNotNull())
                ok_rows = out.filter(F.col(ERROR).isNull())
                recovered = _apply_children(errored_rows, [child], "catch")
                out = ok_rows.unionByName(
                    recovered, allowMissingColumns=True
                )
        return out.withColumn(ERROR, F.lit(None).cast("string"))
    plan = compile_mapping(conf if isinstance(conf, str) else conf["query"])
    assigns, _meta, _dw, _cw = plan.compile_for(df)
    return P.catch_errors(df, dict(assigns))


def _proc_metadata(df: DataFrame, conf) -> DataFrame:
    """Set `_metadata` entries from interpolated field strings — the
    reference's `${! expr }` config-interpolation surface
    (field/expression.go:41) applied to metadata assignment."""
    from bento_spark.bloblang.field import compile_field
    from bento_spark.operators.envelope import ensure_envelope

    df = ensure_envelope(df)
    entries = {k: compile_field(str(v), df) for k, v in conf.items()}
    return P.set_metadata(df, entries)


def _proc_jq(df: DataFrame, conf) -> DataFrame:
    """`jq` (processor_jq.go:95): run a jq program over a JSON column."""
    from bento_spark.operators.jq import jq

    if isinstance(conf, str):
        conf = {"query": conf}
    df, col = _query_doc_col(df, conf)
    if conf.get("raw"):
        # processor_jq.go `raw`: the message feeds the query as a JSON
        # STRING value, not a parsed document. to_json(array(x)) gives
        # the properly-escaped quoted form; strip the brackets.
        j = f"to_json(array({col}))"
        df = df.withColumn(
            "__qrawdoc", F.expr(f"substring({j}, 2, length({j}) - 2)")
        )
        col = "__qrawdoc"
    out = jq(df, col, conf["query"], "__qres")
    if conf.get("output_raw"):
        # processor_jq.go `output_raw` (marshalRaw): string results are
        # written unquoted; containers keep their JSON text
        v = F.parse_json(F.col("__qres"))
        out = out.withColumn(
            "__qres",
            F.coalesce(F.try_variant_get(v, "$", "string"), F.col("__qres")),
        )
    return _replace_message(out, "__qres")


def _query_doc_col(df: DataFrame, conf) -> tuple[DataFrame, str]:
    """The JSON-text column a whole-document query processor (jq /
    jmespath) runs over: explicit `column`, a raw `content`/`props`
    column, the ingestion's `__raw` original, else the typed data
    columns serialized."""
    col = conf.get("column")
    if col is not None:
        return df, col
    for c in ("content", "props"):
        if c in df.columns:
            return df, c
    if "__raw" in df.columns:
        return df, "__raw"
    from bento_spark.operators.envelope import data_cols

    return df.withColumn(
        "__qdoc", F.to_json(F.struct(*[F.col(c) for c in data_cols(df)]))
    ), "__qdoc"


def _replace_message(df: DataFrame, result_col: str) -> DataFrame:
    """Reference contract for jq/jmespath: the message is REPLACED by
    the query result (processor_jmespath.go Summary; processor_jq.go
    SetStructuredMut) — only the envelope survives."""
    keep = [
        c for c in df.columns
        if (c.startswith("_") and not c.startswith("__")) or c == "__idx"
    ]
    return df.select(
        F.col(result_col).alias("content"), *[F.col(c) for c in keep]
    )


def _proc_jmespath(df: DataFrame, conf) -> DataFrame:
    """`jmespath` (processor_jmespath.go): the message is replaced by
    the query result."""
    from bento_spark.operators.jmespath import jmespath

    if isinstance(conf, str):
        conf = {"query": conf}
    df, col = _query_doc_col(df, conf)
    return _replace_message(
        jmespath(df, col, conf["query"], "__qres"), "__qres"
    )


#: processor resources of the config being built — consumed by
#: `workflow` when its branches are referenced by label rather than
#: declared inline (the custom-metrics cookbook shape)
PROCESSOR_RESOURCES: dict[str, dict] = {}


def _proc_workflow(df: DataFrame, conf) -> DataFrame:
    """`workflow` (processor_workflow.go): named branches with explicit
    `order` tiers or automatic DAG resolution. Branches come inline
    (`branches:`) or by label from `processor_resources` entries whose
    body is a `branch:` processor (processor_workflow.go:70)."""
    from bento_spark.operators.workflow import workflow

    branches = conf.get("branches")
    if branches is None:
        names = [n for tier in (conf.get("order") or []) for n in tier]
        branches = {}
        for n in names:
            res = PROCESSOR_RESOURCES.get(n)
            if res is None or "branch" not in res:
                raise ConfigError(
                    f"workflow: branch {n!r} is neither inline nor a "
                    f"`branch:` processor resource"
                )
            branches[n] = dict(res["branch"])
    from bento_spark.operators.workflow import WorkflowError

    try:
        return workflow(df, branches, conf.get("order"))
    except WorkflowError as ex:
        if "circular" not in str(ex):
            raise
        # the YAML-branch dep approximation is TOP-LEVEL-field-granular;
        # path-disjoint read/write pairs (root.article.a read vs
        # root.article.b written) can look circular. Declaration order
        # is always a valid sequential schedule for the cookbook shape —
        # fall back to it with a warning instead of refusing the config.
        import logging

        logging.getLogger("bento_spark.pipeline").warning(
            "workflow: dependency cycle at field granularity; "
            "running branches sequentially in declaration order (%s)", ex
        )
        return workflow(df, branches, [[n] for n in branches])


PROCESSORS = {
    "mapping": _proc_mapping,
    "bloblang": _proc_mapping,  # legacy alias (processor_bloblang.go:18)
    "metadata": _proc_metadata,
    "jq": _proc_jq,
    "jmespath": _proc_jmespath,
    "workflow": _proc_workflow,
    "mutation": _proc_mutation,
    "filter": _proc_filter,
    "dedupe": _proc_dedupe,
    "bounds_check": _proc_bounds_check,
    "sql": _proc_sql,
    "window_agg": _proc_window_agg,
    "group_by": _proc_group_by,
    "select_parts": _proc_select_parts,
    "catch": _proc_catch,
}


from bento_spark.operators import awssvc  # noqa: E402,F401  (registers aws_lambda/aws_dynamodb_partiql/aws_bedrock_invoke)
from bento_spark.operators import azuredata  # noqa: E402,F401  (registers azure_cosmosdb)
from bento_spark.operators import jsproc  # noqa: E402,F401  (registers javascript)
from bento_spark.operators import kvstore  # noqa: E402,F401  (registers kv/redis/redis_script)
from bento_spark.operators import nats_wire  # noqa: E402,F401  (registers nats_request_reply)
from bento_spark.operators import sentry  # noqa: E402,F401  (registers sentry_capture)
from bento_spark.operators import snowplow  # noqa: E402,F401  (registers opensnowcat)
from bento_spark.operators import sqlproc  # noqa: E402,F401  (registers sql_insert/sql_raw)
from bento_spark.operators import featurize as _featurize  # noqa: E402,F401  (registers nlp_*)
from bento_spark.operators import pyproc  # noqa: E402,F401  (registers python)
from bento_spark.operators import subproc  # noqa: E402,F401  (registers subprocess/command/awk)


@dataclass
class Pipeline:
    """A built pipeline: lazily-planned DataFrame + sink config."""

    spark: SparkSession
    df: DataFrame
    is_streaming: bool
    output: tuple[str, dict] | None

    def dataframe(self) -> DataFrame:
        """The composed (unexecuted) DataFrame — for tests/inspection."""
        return self.df

    def _divert_rejected(self, reject_df, eh: dict, log_conf: dict) -> int:
        """Write rejected rows to the DLQ (if configured), emit the
        error-handling metrics/log lines, return the rejected count."""
        from bento_spark.observability import default_registry

        dlq = eh.get("dlq_path")
        if dlq:
            reject_df.write.mode("append").parquet(_resolve_path(dlq))
        n = reject_df.count()
        if n:
            default_registry().counter("error_handling_rejected", float(n))
        if n and log_conf.get("enabled"):
            ratio = float(log_conf.get("sampling_ratio", 1.0))
            k = max(1, int(n * ratio)) if ratio > 0 else 0
            cols = ["_error"] + (
                [c for c in reject_df.columns if c != "_error"][:3]
                if log_conf.get("add_payload")
                else []
            )
            import logging

            log = logging.getLogger("bento_spark.error_handling")
            for row in reject_df.select(*cols).limit(k).collect():
                log.warning("rejected message: %s", row.asDict())
        return n

    def run(self):
        """Execute: batch write (blocking) or start the streaming query.
        Batch runs then harvest any `metric` observations into the
        default MetricsRegistry (observe values only exist after an
        action)."""
        if self.output is None:
            raise ConfigError("pipeline has no `output` section")
        name, conf = self.output
        reject_df = getattr(self, "reject_df", None)
        if reject_df is not None:
            eh = getattr(self, "error_handling", {}) or {}
            log_conf = dict(eh.get("log") or {})
            n_rejected = self._divert_rejected(reject_df, eh, log_conf)
            if n_rejected and not eh.get("dlq_path"):
                raise RejectedBatchError(
                    f"error_handling strategy={eh.get('strategy')}: "
                    f"{n_rejected} message(s) errored and no dlq_path is "
                    "configured (the strict-mode nack of a batch run)"
                )
        result = run_sink(self.df, self.is_streaming, name, conf)
        # delivery ack: the sqlite buffer deletes its staged messages
        # only after the sink action succeeds (buffer_sqlite.go
        # delivery guarantees — a crash before this point replays)
        ack = getattr(self, "buffer_ack", None)
        if ack is not None and not self.is_streaming:
            ack()
        # harvest only THIS pipeline's observations: a module-global
        # drain would block on Observation.get for observations built
        # by OTHER configs that never ran (their actions never fire)
        if not self.is_streaming:
            for mname, obs in getattr(self, "observations", []) or []:
                from bento_spark.observability import default_registry

                try:
                    default_registry().counter(
                        mname, float(obs.get.get("value", 0))
                    )
                except Exception:  # noqa: BLE001 - observation not materialized
                    pass
            self.observations = []
        return result


def _resolve_resource(proc: dict, resources: dict[str, dict]) -> dict:
    """`{resource: label}` -> the labelled processor definition
    (reference `processor_resources`, config/reader.go)."""
    if set(proc) == {"resource"}:
        label = proc["resource"]
        if label not in resources:
            if PLACEHOLDER_RESOURCES[0]:
                return {"noop": {}}
            raise ConfigError(
                f"unknown processor resource {label!r} (have {sorted(resources)})"
            )
        return resources[label]
    return proc


def build_pipeline(spark: SparkSession, config: str | dict) -> Pipeline:
    cfg = load_config(config) if isinstance(config, str) else config
    # shared rate-limit resources (rate_limit_local.go): registered by
    # label, consumed by sinks via `rate_limit: <label>`
    from bento_spark.operators.ratelimit import register_rate_limit

    register_cache_resources(cfg.get("cache_resources"))
    for res in cfg.get("rate_limit_resources") or []:
        res = dict(res)
        label = res.pop("label", None)
        if not label:
            raise ConfigError("rate_limit_resources entries require a `label`")
        register_rate_limit(label, res)
    resources: dict[str, dict] = {}
    for res in cfg.get("processor_resources") or []:
        res = dict(res)
        label = res.pop("label", None)
        if not label:
            raise ConfigError("processor_resources entries require a `label`")
        resources[label] = res
    # labelled input/output definitions (`input_resources:` /
    # `output_resources:`, config/resources) consumed by the `resource`
    # input and output components
    from bento_spark.sinks.yaml_outputs2 import OUTPUT_RESOURCES
    from bento_spark.sources.yaml_inputs2 import INPUT_RESOURCES

    for section, store in (
        ("input_resources", INPUT_RESOURCES),
        ("output_resources", OUTPUT_RESOURCES),
    ):
        for res in cfg.get(section) or []:
            res = dict(res)
            label = res.pop("label", None)
            if not label:
                raise ConfigError(f"{section} entries require a `label`")
            store[label] = res
    PROCESSOR_RESOURCES.clear()
    PROCESSOR_RESOURCES.update(resources)
    obs_start = len(PENDING_OBSERVATIONS)
    if "input" not in cfg:
        raise ConfigError("config requires an `input` section to run")
    in_conf = dict(cfg["input"])
    in_conf.pop("label", None)
    input_procs = in_conf.pop("processors", None) or []
    (sname, sconf), = in_conf.items()
    df, streaming = build_source(spark, sname, sconf)

    def _apply(df, procs):
        for proc in procs:
            proc = _resolve_resource(proc, resources)
            (pname, pconf), = proc.items()
            if pname not in PROCESSORS:
                raise ConfigError(
                    f"unknown processor {pname!r} (have {sorted(PROCESSORS)})"
                )
            df = PROCESSORS[pname](df, pconf)
        return df

    # input-scoped processors run before the buffer and pipeline
    # sections (docs/configuration/processing_pipelines.md)
    df = _apply(df, list(input_procs))
    buffer_ack = None
    if "buffer" in cfg and cfg["buffer"]:
        (bname, bconf), = dict(cfg["buffer"]).items()
        bconf = bconf or {}
        if bname in ("memory", "none"):
            # in-process decoupling only (buffer_memory.go/buffer_none
            # .go): Spark's micro-batch execution already decouples
            # input from processing; no durability to add
            pass
        elif bname == "sqlite":
            # input->db is the input-level ack; db->sink delivery acks
            # (deletes) only after the sink action succeeds
            # (buffer_sqlite.go delivery guarantees)
            from bento_spark.streaming.buffers import SqliteBuffer

            if streaming:
                raise ConfigError(
                    "buffer sqlite: streaming inputs carry their own "
                    "durable cursors; the sqlite buffer is the batch/"
                    "single-node profile"
                )
            buf = SqliteBuffer(_resolve_path(bconf["path"]))
            df = _apply(df, bconf.get("pre_processors") or [])
            buf.stage(df, batch_col="__batch")
            high = buf.max_id()
            df = _apply(buf.replay(spark), bconf.get("post_processors") or [])
            buffer_ack = lambda: buf.ack(high)  # noqa: E731
        elif bname == "system_window":
            df = _buffer_system_window(df, bconf)
        else:
            raise ConfigError(f"unknown buffer {bname!r}")
    pipeline_procs = list((cfg.get("pipeline") or {}).get("processors", []))
    df = _apply(df, pipeline_procs)

    # global error-handling strategy (internal/errorhandling/docs.go:
    # none | reject | retry, plus message-level error logging). The
    # reference wraps every processor in strict/feedback adapters
    # (internal/bundle/strict/); under Catalyst the per-processor wrap
    # and an end-of-chain split are observably equivalent because all
    # processors are error-transparent (errored rows pass through
    # untouched), so the strategy applies once after the chain.
    reject_df = None
    eh = dict(cfg.get("error_handling") or {})
    strategy = eh.get("strategy", "none")
    if strategy not in ("none", "reject", "retry"):
        raise ConfigError(
            f"error_handling.strategy must be none|reject|retry, got {strategy!r}"
        )
    if strategy != "none" and "_error" in df.columns:
        if streaming:
            raise ConfigError(
                "error_handling reject/retry are batch strategies here; "
                "streaming pipelines route errors through the sink-level "
                "reject_errored / fallback outputs (same guarantees, "
                "checkpoint-aligned)"
            )
        err = F.col("_error")
        # materialize the chain ONCE before branching on the error
        # column: the ok/bad/dlq branches and the sink are separate
        # actions, and without a cache each would re-run the whole
        # (possibly side-effecting) processor chain — the reference's
        # strict/feedback wrappers are runtime constructs at exactly
        # this point, so eager evaluation is the faithful mapping
        df = df.persist()
        if strategy == "retry":
            # the reference's feedback pipeline retries errored
            # messages through the whole processor chain (strict/
            # pipeline.go); bounded by max_retries (the reference
            # retries forever — a bounded default is the honest batch
            # mapping, documented), early-exit when a pass comes back
            # clean
            for _ in range(int(eh.get("max_retries", 3))):
                if df.filter(err.isNotNull()).count() == 0:
                    break
                ok = df.filter(err.isNull())
                bad = df.filter(err.isNotNull()).withColumn(
                    "_error", F.lit(None).cast("string")
                )
                bad = _apply(bad, pipeline_procs)
                df = ok.unionByName(
                    bad, allowMissingColumns=True
                ).persist()
        if strategy == "reject" or (
            strategy == "retry" and eh.get("dlq_path")
        ):
            # reject: errored messages leave the main flow — the batch
            # analog of the strict-mode nack. With `dlq_path` they're
            # durably diverted; without one, run() raises (a rejected
            # batch with no destination IS a failed run).
            reject_df = df.filter(err.isNotNull())
            df = df.filter(err.isNull())
    output = None
    if "output" in cfg:
        (oname, oconf), = cfg["output"].items()
        output = (oname, oconf)
    pipe = Pipeline(spark, df, streaming, output)
    pipe.reject_df = reject_df
    pipe.error_handling = eh
    pipe.buffer_ack = buffer_ack
    # claim the observations THIS build registered (and only those)
    pipe.observations = PENDING_OBSERVATIONS[obs_start:]
    del PENDING_OBSERVATIONS[obs_start:]
    return pipe


def _proc_try(df: DataFrame, conf) -> DataFrame:
    """`try` with child processors (processor_try.go:15): children run
    guarded on rows whose `_error` is clear; an errored row passes
    through untouched. Under the column engine children apply to the
    whole frame and `_error`-flagged rows keep their prior values via
    the processors' own when(ok) guards — so composition = sequential
    application of the children."""
    from bento_spark.operators.envelope import ensure_envelope

    return _apply_children(ensure_envelope(df), conf, "try")


PROCESSORS["try"] = _proc_try


def _proc_unarchive(df: DataFrame, conf) -> DataFrame:
    """`unarchive` (processor_unarchive.go:49) in the config surface:
    json_array explodes one message into its elements (element schema
    inferred from the data — spark.read.json over a bounded sample, the
    dynamic-document answer to the reference's schemaless split);
    lines splits on newlines."""
    from bento_spark.operators.envelope import ensure_envelope

    if isinstance(conf, str):
        conf = {"format": conf}
    fmt = conf.get("format", "json_array")
    col = conf.get("column", "content")
    df = ensure_envelope(df)
    other = [c for c in df.columns if c != col]
    if fmt == "lines":
        return df.select(
            *other, F.explode(F.split(F.col(col), "\n", -1)).alias(col)
        )
    if fmt == "json_array":
        if df.isStreaming:
            # no driver-side schema inference on streams: explode the
            # array as VARIANT elements serialized back to JSON text —
            # downstream typed mappings lift per the streaming rules.
            # (explode must be its own projection; to_json wraps above)
            return df.select(
                *other,
                F.explode(F.from_json(F.col(col), "array<variant>")).alias("__el"),
            ).select(*other, F.to_json(F.col("__el")).alias(col))
        spark = df.sparkSession
        sample = [r[0] for r in df.select(col).limit(20).collect() if r[0]]
        if not sample:
            return df.limit(0)
        elem_schema = spark.read.json(
            spark.sparkContext.parallelize(sample, 1)
        ).schema
        from pyspark.sql.types import ArrayType

        exploded = df.select(
            *other,
            F.explode(
                F.from_json(F.col(col), ArrayType(elem_schema))
            ).alias("__el"),
        )
        return exploded.select(*other, "__el.*")
    raise ConfigError(f"unarchive: unknown format {fmt!r}")


PROCESSORS["unarchive"] = _proc_unarchive


def _proc_archive(df: DataFrame, conf) -> DataFrame:
    """`archive` (processor_archive.go:59): batch -> one message."""
    from bento_spark.operators import processors as _P

    if isinstance(conf, str):
        conf = {"format": conf}
    fmt = conf.get("format", "json_array")
    col = conf.get("column", "content")
    if conf.get("order_by", "__idx") in df.columns:
        order = F.col(conf.get("order_by", "__idx"))
    elif df.isStreaming:
        # streaming aggs reject nondeterministic ordering ids; element
        # order within a micro-batch archive is unspecified (matching
        # the reference's unordered batch accumulation)
        order = F.lit(0)
    else:
        # Spark 4 rejects nondeterministic expressions INSIDE an
        # aggregate — materialize the ordering id as a projection first
        df = df.withColumn("__arch_ord", F.monotonically_increasing_id())
        order = F.col("__arch_ord")
    # a preceding `split` stamps __batch: each split batch archives to
    # its own message (the reference's batch->one-message contract
    # applied per re-chunked batch)
    group = F.col("__batch") if "__batch" in df.columns else F.lit(1)
    if fmt == "json_array":
        return _P.archive_json_array(df, group, [order], F.col(col))
    if fmt == "lines":
        return _P.archive_lines(df, group, [order], F.col(col))
    if fmt == "tar":
        return _proc_archive_tar(df, conf)
    raise ConfigError(f"archive: unknown format {fmt!r}")


PROCESSORS["archive"] = _proc_archive


#: resolution root for config-relative paths (import_paths etc.); the
#: test runner points it at the config file's directory
CURRENT_BASE_DIR: list[str] = ["."]


def _resolve_path(p: str) -> str:
    import os

    cands = [p, os.path.join(CURRENT_BASE_DIR[0], p)]
    base = os.path.abspath(CURRENT_BASE_DIR[0])
    for _ in range(5):
        cands.append(os.path.join(base, p))
        base = os.path.dirname(base)
    for c in cands:
        if os.path.exists(c):
            return c
    return p


def _proc_protobuf(df: DataFrame, conf) -> DataFrame:
    """`protobuf` processor (processor_protobuf.go:255): from_json /
    to_json against a message compiled from .proto files (import_paths
    searched config-relative; functions/protoparse.py), speaking the
    protobuf-JSON lowerCamelCase mapping. from_json leaves the wire
    bytes in the content column (BINARY); to_json restores JSON text."""
    from bento_spark.functions.protoparse import (
        load_message_schema,
        load_message_schema_bsr,
    )
    from bento_spark.operators.protobuf import pb_decode_col, pb_encode_col

    if conf.get("bsr"):
        # Buf Schema Registry modules (processor docs `bsr:` examples):
        # resolved over the reference's FileDescriptorSetService wire
        # shape (multimodule_watcher.go) — either this or import_paths
        # must be populated, like the reference's field contract
        schema = load_message_schema_bsr(conf["message"], conf["bsr"])
    else:
        schema = load_message_schema(
            conf["message"],
            [_resolve_path(p) for p in conf.get("import_paths", [])],
        )
    col = conf.get("column", "content")
    op = conf["operator"]
    if op == "from_json":
        import json as _json

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from bento_spark.operators.envelope import data_cols, ensure_envelope
        from bento_spark.operators.protobuf import pb_encode

        df = ensure_envelope(df)
        if col in df.columns:
            src = F.col(col)
        elif "__raw" in df.columns:
            src = F.col("__raw")
        else:
            src = F.to_json(
                F.struct(*[F.col(c) for c in data_cols(df)])
            )
        known = {name for _n, (name, _t) in schema["fields"].items()}

        @pandas_udf("struct<bin: binary, err: string>")
        def encode_strict(s):
            bins, errs = [], []
            for x in s:
                try:
                    doc = _json.loads(x)
                    # the reference's descriptor-backed conversion
                    # REJECTS unknown fields (processor_protobuf.go)
                    for k in doc:
                        if k not in known:
                            raise ValueError(f'unknown field "{k}"')
                    bins.append(pb_encode(doc, schema))
                    errs.append(None)
                except Exception as e:  # noqa: BLE001
                    bins.append(None)
                    errs.append(str(e))
            return pd.DataFrame({"bin": bins, "err": errs})

        keep = [c for c in df.columns
                if c.startswith("_") and not c.startswith("__")]
        idx = [c for c in df.columns if c == "__idx"]
        enc = df.select(
            *idx, encode_strict(src).alias("__enc"), *keep
        )
        return enc.select(
            *idx,
            F.col("__enc.bin").alias(col),
            *[c for c in keep if c != "_error"],
            F.coalesce(F.col("_error"), F.col("__enc.err")).alias("_error"),
        )
    if op == "to_json":
        return df.withColumn(
            col, pb_decode_col(F.col(col).cast("binary"), schema)
        )
    raise ConfigError(f"protobuf: unknown operator {op!r}")


PROCESSORS["protobuf"] = _proc_protobuf


# ---------------------------------------------------------------------------
# config-surface completion (round 5): the YAML forms of processors whose
# operator implementations predate their registration here. Found by
# linting the reference's own cookbook configs (website/cookbooks/*.md)
# through build_pipeline — a reference user's configs must parse.
# ---------------------------------------------------------------------------


def _apply_children(df: DataFrame, children, where: str = "processor") -> DataFrame:
    """Sequentially apply a nested `processors:` list (the composition
    primitive `try`/`switch`/`branch`/`retry`/`while` share)."""
    from bento_spark.operators.envelope import ensure_envelope

    out = ensure_envelope(df)
    for child in children if isinstance(children, list) else [children]:
        child = _resolve_resource(child, PROCESSOR_RESOURCES)
        (pname, pconf), = (
            child.items() if len(child) == 1
            else ((k, v) for k, v in child.items() if k != "label")
        )
        if pname not in PROCESSORS:
            raise ConfigError(f"unknown processor {pname!r} in {where}")
        out = PROCESSORS[pname](out, pconf)
    return out


def _proc_http(df: DataFrame, conf) -> DataFrame:
    """`http` (processor_http.go:71): call an interpolated URL per
    message; a 2xx response REPLACES the document content, anything
    else sets `_error`. Bounded-concurrency Arrow-batched transport
    (operators/http.py); `_transport: echo` injects the deterministic
    test transport."""
    from bento_spark.bloblang.field import compile_field
    from bento_spark.operators import http as H
    from bento_spark.operators.envelope import ERROR, ensure_envelope, data_cols

    df = ensure_envelope(df)
    verb = str(conf.get("verb", "POST")).upper()
    transport = (
        H.fake_echo_transport if conf.get("_transport") == "echo"
        else H.urllib_transport
    )
    if "content" not in df.columns:
        # typed documents serialize to JSON for the request body, the
        # engine's canonical bytes form
        df = df.withColumn(
            "content", F.to_json(F.struct(*data_cols(df)))
        )
    df = df.withColumn("__http_url", compile_field(str(conf["url"]), df))
    out = H.http_enrich(
        df,
        "__http_url",
        body_col="content" if verb not in ("GET", "HEAD") else None,
        method=verb,
        transport=transport,
    )
    ok_resp = (F.col("http_status") >= 200) & (F.col("http_status") < 300)
    out = out.withColumn(
        "content",
        F.when(ok_resp & F.col(ERROR).isNull(), F.col("http_response"))
        .otherwise(F.col("content")),
    ).withColumn(
        ERROR,
        F.when(
            ~F.coalesce(ok_resp, F.lit(False)) & F.col(ERROR).isNull(),
            F.concat(F.lit("http: status "), F.col("http_status").cast("string")),
        ).otherwise(F.col(ERROR)),
    )
    return out.drop("__http_url", "http_status", "http_response")


def _proc_branch_cfg(df: DataFrame, conf) -> DataFrame:
    """`branch` YAML form (processor_branch.go:152):
    request_map -> processors -> result_map.

    Column-engine model: the document flows as COLUMNS of one frame, so
    the three stages compose as sequential transforms on that frame —
    request/result maps run in mutation mode (fields persist unless
    overwritten) rather than constructing a detached child message.
    This preserves the data behavior of the enrichment cookbooks (the
    child's computed fields are visible to result_map, the original
    fields survive); a child that relies on REPLACING the document
    wholesale belongs in a `mapping` first."""
    out = _lift_content(ensure_env(df))
    if conf.get("request_map"):
        out = _branch_map(out, conf["request_map"], "request_map")
    children = _rewrite_archive_roundtrip(list(conf.get("processors") or []))
    out = _apply_children(out, children, "branch")
    if conf.get("result_map"):
        out = _branch_map(_lift_content(out), conf["result_map"],
                          "result_map")
    return out


def _branch_map(df: DataFrame, src: str, label: str) -> DataFrame:
    """Branch request/result maps: mutation-mode compile with the same
    METERED tier-c interpreter fallback as `mapping`/`mutation` (the
    reference evaluates these per message, so throw()-carrying result
    maps — the aws_lambda cookbook — are legal here too)."""
    from pyspark.errors.exceptions.base import AnalysisException

    from bento_spark.bloblang.compiler import UnsupportedConstruct
    from bento_spark.bloblang.stdlib import NonConstantArg, ThrowInExpression

    try:
        return compile_mapping(src).apply(df, new_document=False)
    except (RecursionError, AnalysisException, ThrowInExpression,
            UnsupportedConstruct, NonConstantArg,
            TypeError, AttributeError) as ex:
        # TypeError/AttributeError here are PLAN-BUILD failures (a
        # builder got a shape it can't compile — e.g. a lambda where a
        # value belongs); the interpreter executes the same construct
        # per message, so routing preserves results and the meter keeps
        # it visible. Unknown-name CompileErrors still fail loudly.
        import logging

        from bento_spark.bloblang.interp import interpreted_mapping_df
        from bento_spark.observability import default_registry

        default_registry().counter(
            "bloblang.interpreter_fallback", reason=type(ex).__name__
        )
        logging.getLogger("bento_spark.bloblang").warning(
            "branch %s fell back to the tier-c interpreter (%s); "
            "source: %.200s", label, type(ex).__name__, src,
        )
        return interpreted_mapping_df(df, "root = this\n" + src)


def _rewrite_archive_roundtrip(children: list) -> list:
    """Branch children of the shape ``archive(json_array) -> transport
    -> unarchive(json_array)`` exist in the reference to COALESCE the
    batch into one service call — a physical optimization of its
    one-message-at-a-time engine. This engine's transports are already
    Arrow-batched with bounded concurrency, so the pair rewrites to
    per-message array framing: each document is wrapped as a 1-element
    JSON array before the transport and unwrapped after — the same
    request/response semantics PER ELEMENT, with the batching decided
    by the engine instead of the config (SURVEY §0: the reference
    defines what to compute, not how).

    The rewrite CHANGES THE EXTERNALLY OBSERVABLE FRAMING when the
    transport is a remote service (N one-element arrays instead of one
    N-element array) — correct only for element-wise services. It
    therefore logs a visible warning every time it fires, and an
    explicit ``preserve_batch: true`` on the archive step opts out
    entirely (the pair then runs as literal archive/unarchive)."""
    fmt = lambda c: (c if isinstance(c, dict) else {}).get("format", "json_array")  # noqa: E731
    arch = [i for i, ch in enumerate(children)
            if "archive" in ch and fmt(ch["archive"]) == "json_array"
            and not (ch["archive"] or {}).get("preserve_batch")]
    unarch = [i for i, ch in enumerate(children)
              if "unarchive" in ch and fmt(ch["unarchive"]) == "json_array"]
    if arch and unarch and arch[0] < unarch[-1]:
        import logging

        logging.getLogger("bento_spark.pipeline").warning(
            "branch: rewriting archive(json_array)->...->unarchive to "
            "per-message 1-element array framing (engine-side batching); "
            "a remote service between them will see N single-element "
            "arrays instead of one batched array — set "
            "archive.preserve_batch: true to keep the original framing"
        )
        children = list(children)
        children[arch[0]] = {"__wrap_json_array": {}}
        children[unarch[-1]] = {"__unwrap_json_array": {}}
    return children


def _proc_wrap_json_array(df: DataFrame, conf) -> DataFrame:
    from bento_spark.operators.envelope import data_cols, ensure_envelope

    df = ensure_envelope(df)
    if "content" not in df.columns:
        cols = data_cols(df)
        df = df.withColumn("content", F.to_json(F.struct(*cols))).drop(*cols)
    return df.withColumn(
        "content", F.concat(F.lit("["), F.col("content"), F.lit("]"))
    )


def _proc_unwrap_json_array(df: DataFrame, conf) -> DataFrame:
    from bento_spark.operators.envelope import ensure_envelope

    df = ensure_envelope(df)
    return df.withColumn(
        "content",
        F.to_json(
            F.element_at(F.from_json(F.col("content"), "array<variant>"), 1)
        ),
    )


PROCESSORS["__wrap_json_array"] = _proc_wrap_json_array
PROCESSORS["__unwrap_json_array"] = _proc_unwrap_json_array


def _proc_switch_cfg(df: DataFrame, conf) -> DataFrame:
    """`switch` YAML form (processor_switch.go:77): ordered cases of
    {check, processors}; first matching case's processors run for that
    message. Spark shape: split-filter per case, children per split,
    unionByName back together (schema widened with nulls where branches
    add different columns). `fallthrough` (processor_switch.go:172-220)
    carries a passed case's PROCESSED messages into the next case
    unconditionally (the reference seeds the next case's passed set
    with carryOver without re-testing). Fallthrough on the LAST case
    would silently drop the carried messages in the reference (the
    final append only restores `remaining`); that is almost certainly
    a config bug, so it is rejected loudly instead."""
    from bento_spark.bloblang import compile_expr

    remaining = ensure_env(df)
    parts = []
    carry = None
    for i, case in enumerate(conf):
        check = case.get("check")
        if check:
            cond = F.coalesce(compile_expr(check, df=remaining), F.lit(False))
            matched = remaining.filter(cond)
            remaining = remaining.filter(~cond)
        else:  # default case takes everything left
            matched, remaining = remaining, remaining.limit(0)
        if carry is not None:
            matched = carry.unionByName(matched, allowMissingColumns=True)
            carry = None
        processed = _apply_children(
            matched, case.get("processors") or [], "switch"
        )
        if case.get("fallthrough"):
            if i == len(conf) - 1:
                raise ConfigError(
                    "switch: fallthrough on the final case would drop "
                    "its messages (processor_switch.go discards the "
                    "last carryOver) — remove it or add a terminal case"
                )
            carry = processed
        else:
            parts.append(processed)
    out = parts[0] if parts else remaining
    for p in parts[1:] + [remaining]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _proc_retry(df: DataFrame, conf) -> DataFrame:
    """`retry` (processor_retry.go): re-run the children for messages
    that errored, up to max_retries; rows that recover clear `_error`
    (operators.processors.retry)."""
    from bento_spark.operators.processors import retry

    children = conf.get("processors") or []
    return retry(
        df,
        lambda d: _apply_children(d, children, "retry"),
        attempts=int(conf.get("max_retries", 2)) + 1,
    )


def _proc_while(df: DataFrame, conf) -> DataFrame:
    """`while` (processor_while.go): re-apply children to messages
    while the check holds, bounded by max_loops.

    The reference's default max_loops is 0 = UNLIMITED; a static
    unrolled plan cannot be unbounded, so an explicit 0 is rejected
    loudly (silently clamping it to 10 would change semantics without
    a trace), while an ABSENT max_loops gets the practical default of
    10 rounds. An EXPLICIT positive max_loops matches the reference
    exactly (processor_while.go:150 breaks and passes the batch through
    unflagged — fixed-round fixpoint loops rely on this); only when the
    bound was OUR default (absent in config, where the reference would
    have kept looping) do exhausted rows exit with `_error` set, since
    silent passthrough there would hide a real semantic divergence."""
    from bento_spark.bloblang import compile_expr
    from bento_spark.operators.envelope import ERROR

    children = conf.get("processors") or []
    check = conf["check"]
    raw_loops = conf.get("max_loops")
    defaulted = raw_loops in (None, "")
    if defaulted:
        max_loops = 10
    else:
        max_loops = int(raw_loops)
        if max_loops <= 0:
            raise ConfigError(
                "while: max_loops: 0 (the reference's 'unlimited') is "
                "not supported by the unrolled static plan — set an "
                "explicit positive bound"
            )
    out = _lift_content(ensure_env(df))
    done = []
    for _ in range(max_loops):
        cond = F.coalesce(compile_expr(check, df=out), F.lit(False))
        done.append(out.filter(~cond))
        out = _apply_children(out.filter(cond), children, "while")
    if defaulted:
        # OUR 10-round default stood in for the reference's unlimited
        # loop: anything still matching the check diverged, flag it.
        exhausted = F.coalesce(compile_expr(check, df=out), F.lit(False))
        out = out.withColumn(
            ERROR,
            F.when(
                exhausted & F.col(ERROR).isNull(),
                F.lit(
                    f"while: max_loops ({max_loops}) reached with check still true"
                ),
            ).otherwise(F.col(ERROR)),
        )
    res = done[0]
    for p in done[1:] + [out]:
        res = res.unionByName(p, allowMissingColumns=True)
    return res


def _proc_passthrough(df: DataFrame, conf) -> DataFrame:
    """`noop` — identity."""
    return df


def _proc_sleep(df: DataFrame, conf) -> DataFrame:
    """`sleep` (processor_sleep.go): pause for `duration` once per
    batch execution — the reference is a BatchProcessor that sleeps per
    ProcessBatch call; here the unit is the Arrow batch, so the pacing
    profile matches (one pause per batch, workers pace independently —
    the reference's pipeline workers do too). Primary streaming pacing
    remains trigger intervals; this is the config-compatible throttle.
    """
    from collections.abc import Iterator

    import pandas as pd

    from bento_spark.bloblang.field import compile_field, is_dynamic
    from bento_spark.operators.cachepolicy import parse_duration_s
    from bento_spark.operators.envelope import ensure_envelope

    raw = conf.get("duration", "0s") if isinstance(conf, dict) else conf
    if isinstance(raw, str) and is_dynamic(raw):
        # Interpolated duration (processor_sleep.go resolves the field
        # against the batch): carry the resolved string as a column and
        # sleep per batch on its first row's value at execution time.
        df = ensure_envelope(df)
        dur_col = "__sleep_dur"
        with_dur = df.withColumn(dur_col, compile_field(raw, df))
        schema = df.schema

        def run_dyn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import time as _time

            for pdf in batches:
                if len(pdf):
                    try:
                        d = parse_duration_s(pdf[dur_col].iloc[0])
                    except (ValueError, TypeError):
                        d = 0.0
                    if d > 0:
                        _time.sleep(d)
                yield pdf.drop(columns=[dur_col])

        return with_dur.mapInPandas(run_dyn, schema)

    dur = parse_duration_s(raw)
    if dur <= 0:
        return df
    df = ensure_envelope(df)
    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time as _time

        for pdf in batches:
            _time.sleep(dur)
            yield pdf

    return df.mapInPandas(run, schema)


def _proc_log(df: DataFrame, conf) -> DataFrame:
    """`log` (processor_log.go): driver-side log line; the per-message
    firehose form is an anti-pattern at scale, so the message template
    is logged once per pipeline build with the level honored."""
    import logging

    level = str(conf.get("level", "INFO")).upper()
    logging.getLogger("bento_spark.pipeline").log(
        getattr(logging, level, logging.INFO), "%s", conf.get("message", "")
    )
    return df


#: batch-mode Observations pending harvest (name, Observation) — drained
#: by Pipeline.run() into the default MetricsRegistry after the action
PENDING_OBSERVATIONS: list = []
PENDING_OBSERVATIONS_SEQ = [0]


def _proc_metric(df: DataFrame, conf) -> DataFrame:
    """`metric` (processor_metric.go:144): counts rows reaching this
    point via `df.observe` — valueless until an action runs (exactly
    the reference's lazy metric semantics under Spark's lazy plans).
    Streaming: the observation surfaces per micro-batch through
    StreamingQueryListener (streaming/control.py); batch: harvested
    into the MetricsRegistry by Pipeline.run()."""
    name = str(conf.get("name", "metric"))
    # observation names must be plan-unique even when the logical metric
    # name repeats across branches (Spark DUPLICATED_METRICS_NAME);
    # harvest resolves the suffix back to the logical name
    PENDING_OBSERVATIONS_SEQ[0] += 1
    uname = f"{name}#{PENDING_OBSERVATIONS_SEQ[0]}"
    if df.isStreaming:
        return df.observe(uname, F.count(F.lit(1)).alias("value"))
    from pyspark.sql import Observation

    obs = Observation(uname)
    PENDING_OBSERVATIONS.append((name, obs))
    return df.observe(obs, F.count(F.lit(1)).alias("value"))


def _proc_cache(df: DataFrame, conf) -> DataFrame:
    """`cache` processor (processor_cache.go:154) against a named
    `cache_resources` entry: get/set/add over interpolated key/value.
    Driver-side bounded at 1M distinct keys per batch (same contract as
    the cache-backed dedupe); corpus-scale lookups belong on the
    broadcast-join `sql_select`/kv path."""
    from bento_spark.bloblang.field import compile_field
    from bento_spark.operators.envelope import ERROR, ensure_envelope

    df = ensure_envelope(df)
    cache = CACHE_RESOURCES.get(conf["resource"])
    if cache is None:
        if PLACEHOLDER_RESOURCES[0]:
            cache = _placeholder_cache(conf["resource"])
        else:
            raise ConfigError(
                f"unknown cache resource {conf['resource']!r} "
                f"(have {sorted(CACHE_RESOURCES)})"
            )
    op = conf.get("operator", "get")
    if df.isStreaming:
        return _proc_cache_streaming(df, conf)
    key = compile_field(str(conf.get("key", "${! content() }")), df)
    df = df.withColumn("__cache_key", key)
    # Materialize the upstream chain ONCE: the set/get driver transfer
    # is an action of its own, and every downstream action (the final
    # sink, a global sort's range sampler, later cache hops) otherwise
    # RE-RUNS the whole processor chain above this point —
    # proc_yaml_surface_gauntlet's switch/http/while chain executed 4x
    # per gate run (isolated sf1: 55s -> 23s with one materialization).
    # localCheckpoint (executor-local blocks, lineage truncated) over
    # persist: the blocks never need to outlive the query and the
    # ContextCleaner reaps them — the _materialize_index precedent
    # (operators/dedup.py).
    df = df.localCheckpoint(eager=False)
    if op in ("set", "add"):
        value = compile_field(str(conf.get("value", "${! content() }")), df)
        df = df.withColumn("__cache_val", value)
        # Arrow-path collect (toPandas with arrow.pyspark.enabled): the
        # row-path .collect() deserialized one Row per key through py4j
        # — ~20s of proc_yaml_surface_gauntlet's sf1 gate time for 1M
        # keys; the Arrow transfer is one columnar batch. Interpolated
        # key/value are string-typed by construction (compile_field), so
        # the object-dtype round trip is value-identical (str | None).
        pdf = (
            df.select("__cache_key", "__cache_val")
            .dropDuplicates(["__cache_key"])
            .limit(1_000_001)
            .toPandas()
        )
        if len(pdf) > 1_000_000:
            raise ConfigError("cache processor exceeds 1M keys per batch")
        pairs = list(
            zip(pdf["__cache_key"].tolist(), pdf["__cache_val"].tolist())
        )
        existed: set = set()
        if op == "add":
            hits = cache.mget([k for k, _ in pairs])
            existed = {k for (k, _), h in zip(pairs, hits) if h is not None}
            pairs = [(k, v) for k, v in pairs if k not in existed]
        cache.mset(pairs)
        out = df
        if existed:
            out = out.withColumn(
                ERROR,
                F.when(
                    F.col("__cache_key").isin(list(existed))
                    & F.col(ERROR).isNull(),
                    F.lit("cache add: key already exists"),
                ).otherwise(F.col(ERROR)),
            )
        return out.drop("__cache_key", "__cache_val")
    if op == "get":
        import pandas as pd

        keys = (
            df.select("__cache_key").distinct().limit(1_000_001)
            .toPandas()["__cache_key"].tolist()
        )
        if len(keys) > 1_000_000:
            raise ConfigError("cache processor exceeds 1M keys per batch")
        vals = cache.mget(keys)
        spark = df.sparkSession
        # pandas -> Arrow createDataFrame: the list-of-tuples form
        # pickles every pair through the RDD path
        side = spark.createDataFrame(
            pd.DataFrame(
                {
                    "__cache_key": pd.Series(keys, dtype="object"),
                    "__cache_hit": pd.Series(vals, dtype="object"),
                }
            ),
            "__cache_key string, __cache_hit string",
        )
        out = df.join(F.broadcast(side), "__cache_key", "left")
        out = out.withColumn(
            "content",
            F.when(F.col("__cache_hit").isNotNull(), F.col("__cache_hit"))
            .otherwise(F.col("content") if "content" in df.columns else F.lit(None)),
        ).withColumn(
            ERROR,
            F.when(
                F.col("__cache_hit").isNull() & F.col(ERROR).isNull(),
                F.lit("cache get: key does not exist"),
            ).otherwise(F.col(ERROR)),
        )
        return out.drop("__cache_key", "__cache_hit")
    raise ConfigError(f"cache operator {op!r} not supported (get/set/add)")


def _proc_cache_streaming(df: DataFrame, conf) -> DataFrame:
    """Streaming form of the `cache` processor: per-partition
    mapInPandas with the backend rebuilt from its raw conf on each
    executor (driver-side collects are illegal on streams). Remote
    backends (redis/memcached/...) behave exactly like the reference —
    shared state over the wire; in-memory backends become
    executor-scoped, which matches the reference's per-process scope in
    spirit but not across executors (documented)."""
    from bento_spark.bloblang.field import compile_field
    from bento_spark.operators.envelope import ERROR, ensure_envelope

    from pyspark.errors.exceptions.base import AnalysisException

    df = ensure_envelope(df)
    rconf = CACHE_RESOURCE_CONFS.get(conf["resource"])
    if rconf is None:
        if PLACEHOLDER_RESOURCES[0]:
            _placeholder_cache(conf["resource"])
            rconf = CACHE_RESOURCE_CONFS[conf["resource"]]
        else:
            raise ConfigError(
                f"unknown cache resource {conf['resource']!r}"
            )
    op = conf.get("operator", "get")
    if op not in ("get", "set", "add"):
        raise ConfigError(f"cache operator {op!r} not supported (get/set/add)")
    key_tpl = str(conf.get("key", "${! content() }"))
    val_tpl = str(conf.get("value", "${! content() }"))
    interp_key = interp_val = None
    try:
        df = df.withColumn("__cache_key", compile_field(key_tpl, df))
        if op in ("set", "add"):
            df = df.withColumn("__cache_val", compile_field(val_tpl, df))
    except AnalysisException:
        # the template's expression needs the typed document, which
        # streaming frames can't lift — evaluate per message with the
        # tier-c interpreter inside the same mapInPandas (counted like
        # every other interpreter engagement)
        from bento_spark.observability import default_registry

        default_registry().counter(
            "bloblang.interpreter_fallback", reason="cache_field"
        )
        df = df.drop("__cache_key", "__cache_val")
        interp_key = _interp_field_fn(key_tpl)
        if op in ("set", "add"):
            interp_val = _interp_field_fn(val_tpl)
        df = df.withColumn("__cache_key", F.lit(None).cast("string"))
        if op in ("set", "add"):
            df = df.withColumn("__cache_val", F.lit(None).cast("string"))
    has_content = "content" in df.columns
    schema = df.schema
    from bento_spark.operators.envelope import META as _META

    def run(batches):
        from bento_spark.operators.cachepolicy import cache_from_conf

        cache = cache_from_conf(rconf)
        for pdf in batches:
            if interp_key is not None:
                metas = pdf[_META] if _META in pdf else [{}] * len(pdf)
                pdf["__cache_key"] = [
                    interp_key(c, m)
                    for c, m in zip(pdf.get("content", [""] * len(pdf)), metas)
                ]
                if interp_val is not None:
                    pdf["__cache_val"] = [
                        interp_val(c, m)
                        for c, m in zip(pdf.get("content", [""] * len(pdf)), metas)
                    ]
            keys = pdf["__cache_key"].tolist()
            if op == "get":
                vals = cache.mget(keys)
                hit = [v is not None for v in vals]
                if has_content:
                    pdf["content"] = [
                        v if h else c
                        for v, h, c in zip(vals, hit, pdf["content"])
                    ]
                pdf[ERROR] = [
                    e if h else (e or "cache get: key does not exist")
                    for h, e in zip(hit, pdf[ERROR])
                ]
            else:
                pairs = list(zip(keys, pdf["__cache_val"].tolist()))
                if op == "add":
                    hits = cache.mget(keys)
                    existed = {k for k, h in zip(keys, hits) if h is not None}
                    pairs = [(k, v) for k, v in pairs if k not in existed]
                    pdf[ERROR] = [
                        e or ("cache add: key already exists" if k in existed else None)
                        for k, e in zip(keys, pdf[ERROR])
                    ]
                cache.mset(pairs)
            yield pdf
        if hasattr(cache, "close"):
            try:
                cache.close()
            except Exception:  # noqa: BLE001
                pass

    out = df.mapInPandas(run, schema)
    return out.drop("__cache_key", *(
        ["__cache_val"] if op in ("set", "add") else []
    ))


def _interp_field_fn(template: str):
    """Per-message interpolation evaluator: `a-${! expr }-b` becomes the
    mapping `root = "a-" + (expr).string() + "-b"` run through the
    tier-c interpreter."""
    import json as _json

    from bento_spark.bloblang.field import parse_field
    from bento_spark.bloblang.interp import interpret_mapping

    parts = [
        _json.dumps(text) if kind == "static" else f"({text}).string()"
        for kind, text in parse_field(template)
    ]
    src = "root = " + (" + ".join(parts) if parts else '""')

    def fn(content, meta):
        v, _ = interpret_mapping(
            src, content if content is not None else "", dict(meta or {})
        )
        return v if isinstance(v, str) else _json.dumps(v)

    return fn


def _proc_group_by_value(df: DataFrame, conf) -> DataFrame:
    """`group_by_value` (processor_group_by_value.go): stamp the
    interpolated grouping value as metadata `group` — downstream sinks
    partition on it (the reference's dynamic-output idiom)."""
    value = conf.get("value") if isinstance(conf, dict) else conf
    return _proc_metadata(df, {"group": value})


def _proc_compress(df: DataFrame, conf) -> DataFrame:
    """`compress` (processor_compress.go:22): content -> BINARY."""
    from bento_spark.operators.codecs import compress_col
    from bento_spark.operators.envelope import ensure_envelope

    df = ensure_envelope(df)
    algo = conf.get("algorithm", "gzip") if isinstance(conf, dict) else conf
    return df.withColumn(
        "content", compress_col(F.encode("content", "UTF-8"), algo)
    )


def _proc_decompress(df: DataFrame, conf) -> DataFrame:
    """`decompress` (processor_decompress.go:21): BINARY -> content."""
    from bento_spark.operators.codecs import decompress_col
    from bento_spark.operators.envelope import ensure_envelope

    df = ensure_envelope(df)
    algo = conf.get("algorithm", "gzip") if isinstance(conf, dict) else conf
    return df.withColumn(
        "content", F.decode(decompress_col(F.col("content"), algo), "UTF-8")
    )


def ensure_env(df: DataFrame) -> DataFrame:
    from bento_spark.operators.envelope import ensure_envelope

    return ensure_envelope(df)


PROCESSORS.update({
    "http": _proc_http,
    "branch": _proc_branch_cfg,
    "switch": _proc_switch_cfg,
    "retry": _proc_retry,
    "while": _proc_while,
    "noop": _proc_passthrough,
    "sleep": _proc_sleep,
    "log": _proc_log,
    "metric": _proc_metric,
    "cache": _proc_cache,
    "group_by_value": _proc_group_by_value,
    "compress": _proc_compress,
    "decompress": _proc_decompress,
    # composition sugar: a list of children applied in order
    "for_each": lambda df, conf: _apply_children(df, conf, "for_each"),
    "processors": lambda df, conf: _apply_children(df, conf, "processors"),
    "parallel": lambda df, conf: _apply_children(
        df, (conf or {}).get("processors", conf) if isinstance(conf, dict) else conf,
        "parallel",
    ),
})


def _proc_cached(df: DataFrame, conf) -> DataFrame:
    """`cached` (processor_cached.go): memoize child results by key.
    Spark-native spelling: dedupe the frame to DISTINCT keys, run the
    children once per key, join the results back — the memoization IS
    the dedupe+join, no cache resource needed within the plan (the
    reference's TTL'd cross-batch reuse belongs to the `cache`
    processor).

    Two semantics the join must preserve:
    - The reference substitutes the cached result WHOLESALE ("the
      contents of the message will be replaced with the cached
      result"), so EVERY child-visible column — including ones the
      children rewrote in place (content after an http/mapping child)
      and `_error` from a failing child — comes from the computed
      side, not just newly-added columns.
    - A key whose children emitted zero messages is a cached empty
      result: same-key messages drop too (hence the inner join).

    Scale: the distinct-key side is df-sized in the WORST case (mostly
    unique keys — nothing in the config bounds cardinality), so the
    join is deliberately NOT hint-forced; AQE picks broadcast only when
    the measured size allows it."""
    from bento_spark.bloblang.field import compile_field
    from bento_spark.operators.envelope import ensure_envelope

    from bento_spark.operators.envelope import META

    df = _lift_content(ensure_envelope(df))
    key_tpl = str(conf.get("key", "${! content() }"))
    # NULL never equi-joins: a key expression that evaluates to NULL
    # would silently drop the row on both sides of the join below, so
    # coalesce to a sentinel — NULL-keyed rows share one cache entry,
    # which matches the reference's string-interpolated key collapsing
    # unresolvable fields to one value.
    df = df.withColumn(
        "__cached_key",
        F.coalesce(
            compile_field(key_tpl, df).cast("string"),
            F.lit("\x00__cached_key_null__"),
        ),
    )
    # carry the key through the children inside the metadata envelope:
    # a wholesale `root = ...` mapping drops sibling data columns but
    # preserves metadata, so a plain key column would not survive
    distinct = df.dropDuplicates(["__cached_key"]).withColumn(
        META,
        F.map_concat(
            F.col(META),
            F.create_map(F.lit("__cached_key"), F.col("__cached_key")),
        ),
    ).drop("__cached_key")
    computed = _apply_children(distinct, conf.get("processors") or [], "cached")
    # A child that rewrote the metadata map WHOLESALE (e.g. `meta =
    # {...}` / `meta = deleted()`) lost the stashed key — every row for
    # that key would vanish from the inner join, which is NOT a "cached
    # empty result". Fail loudly at runtime instead of dropping data.
    computed = computed.withColumn(
        "__cached_key",
        F.when(
            F.col(META)["__cached_key"].isNull(),
            F.raise_error(
                F.lit(
                    "cached: a child processor cleared the metadata map "
                    "wholesale, losing the internal __cached_key entry — "
                    "results cannot be joined back to their messages; "
                    "preserve existing metadata in children (or use "
                    "`branch` for partial enrichment)"
                )
            ),
        ).otherwise(F.col(META)["__cached_key"]),
    ).withColumn(
        META, F.map_filter(F.col(META), lambda k, _: k != "__cached_key")
    )
    # the original frame contributes ONLY multiplicity (one output row
    # per input row); every column of the result is the child-computed
    # row for that key — a wholesale replacement, like the reference
    return (
        df.select("__cached_key")
        .join(computed, "__cached_key", "inner")
        .drop("__cached_key")
    )


PROCESSORS["cached"] = _proc_cached


def _lookup_processor(make_client, fetch):
    """Lookup-processor family (elasticsearch / aws_s3 / redis command):
    per-partition lazy client, interpolated key, response replaces
    content, failures -> _error. One client per executor, Arrow-batched
    rows through it."""

    def proc(df: DataFrame, conf) -> DataFrame:
        from bento_spark.bloblang.field import compile_field
        from bento_spark.operators.envelope import ensure_envelope, per_message

        df = ensure_envelope(df)
        key_tpl = str(conf.get("id") or conf.get("key") or "${! content() }")
        df = df.withColumn("__lk", compile_field(key_tpl, df))
        return per_message(
            df, lambda client, row: fetch(client, conf, row["__lk"]),
            open=lambda: make_client(conf),
        ).drop("__lk")

    return proc


def _es_client(conf):
    from bento_spark.operators.kvstore import EsKV

    return EsKV((conf.get("urls") or ["http://localhost:9200"])[0],
                conf.get("index", "bento"))


def _es_fetch(client, conf, key):
    v = client.mget([key])[0]
    if v is None:
        raise KeyError(f"elasticsearch: id {key!r} not found")
    return v


PROCESSORS["elasticsearch"] = _lookup_processor(_es_client, _es_fetch)
PROCESSORS["opensearch"] = PROCESSORS["elasticsearch"]


def _s3_client(conf):
    from bento_spark.sources.aws_s3 import S3Client

    return S3Client(
        conf.get("endpoint") or "https://s3.{r}.amazonaws.com".format(
            r=conf.get("region", "us-east-1")),
        conf["bucket"], conf.get("region", "us-east-1"),
        conf.get("access_key"), conf.get("secret_key"),
    )


def _s3_fetch(client, conf, key):
    return client.get_object(key).decode("utf-8", "replace")


PROCESSORS["aws_s3"] = _lookup_processor(_s3_client, _s3_fetch)


def _proc_archive_tar(df: DataFrame, conf) -> DataFrame:
    """`archive` format=tar: batch -> one tar BINARY message (names
    from the interpolated `path`, default the row index)."""
    from bento_spark.bloblang.field import compile_field
    from bento_spark.operators.codecs import tar_archive_col
    from bento_spark.operators.envelope import ensure_envelope

    df = ensure_envelope(df)
    name = conf.get("path", "${! count(\"files\") }")
    try:
        name_col = compile_field(str(name), df)
        df.select(name_col)  # force analysis so fallback catches it
    except Exception:  # noqa: BLE001 - fall back to positional names
        name_col = F.monotonically_increasing_id().cast("string")
    df = df.withColumn("__tar_name", name_col)
    if "__idx" not in df.columns:
        df = df.withColumn("__idx", F.monotonically_increasing_id())
    item = F.struct(F.col("__idx").alias("o"), F.col("__tar_name").alias("n"),
                    F.col("content").alias("c"))
    agg = df.groupBy(F.lit(1).alias("group_key")).agg(
        F.array_sort(F.collect_list(item)).alias("items")
    )
    return agg.select(
        tar_archive_col(
            F.expr("transform(items, x -> x.n)"),
            F.expr("transform(items, x -> encode(x.c, 'UTF-8'))"),
        ).alias("content"),
        F.size("items").alias("n_items"),
    )


def _proc_grok(df: DataFrame, conf) -> DataFrame:
    """`grok` (processor_grok.go): first matching expression extracts
    named fields from content."""
    from bento_spark.operators.codecs import grok as _grok

    exprs = conf.get("expressions") or [conf.get("expression")]
    return _grok(
        ensure_env(df), conf.get("column", "content"), exprs[0],
        extra=dict(conf.get("pattern_definitions") or {}),
    )


def _proc_parse_log(df: DataFrame, conf) -> DataFrame:
    """`parse_log` (processor_parse_log.go): syslog RFC3164/5424."""
    from bento_spark.operators.codecs import parse_syslog

    fmt = str(conf.get("format", "syslog_rfc5424"))
    rfc = "5424" if "5424" in fmt else "3164"
    return parse_syslog(ensure_env(df), conf.get("column", "content"), rfc)


def _proc_json_schema(df: DataFrame, conf) -> DataFrame:
    """`json_schema` (processor_jsonschema.go): rows failing the
    (subset) schema get `_error`."""
    import json as _json

    from bento_spark.operators.envelope import ERROR
    from bento_spark.operators.processors import json_schema_bad

    df = ensure_env(df)
    schema = conf.get("schema")
    if schema is None and conf.get("schema_path"):
        # config-relative like import_paths (docs use file:// URLs)
        path = _resolve_path(str(conf["schema_path"]).removeprefix("file://"))
        with open(path) as fh:
            schema = fh.read()
    schema = _json.loads(schema) if isinstance(schema, str) else schema
    bad = json_schema_bad(F.col("content"), schema or {})
    return df.withColumn(
        ERROR,
        F.when(bad & F.col(ERROR).isNull(),
               F.lit("json_schema: validation failed")).otherwise(F.col(ERROR)),
    )


def _proc_msgpack(df: DataFrame, conf) -> DataFrame:
    """`msgpack` (processor_msgpack.go): content <-> msgpack binary."""
    from bento_spark.operators.codecs import msgpack_decode_col, msgpack_encode_col

    df = ensure_env(df)
    op = conf.get("operator", "to_json")
    if op == "from_json":
        return df.withColumn("content", msgpack_encode_col(F.col("content")))
    return df.withColumn("content", msgpack_decode_col(F.col("content")))


def _proc_group_by_cases(df: DataFrame, conf) -> DataFrame:
    """`group_by` check-form (processor_group_by.go): the batch splits
    into groups by the FIRST matching check; each group's processors
    apply to its subset (split-filter-union, the switch mechanics,
    with the group index stamped as metadata for downstream routing)."""
    cases = [
        {"check": c.get("check"), "processors": c.get("processors") or []}
        for c in conf
    ]
    return _proc_switch_cfg(df, cases)


# the aggregation form keeps its dict conf; the reference's check-form
# arrives as a list
_group_by_agg = PROCESSORS["group_by"]
PROCESSORS["group_by"] = lambda df, conf: (
    _proc_group_by_cases(df, conf) if isinstance(conf, list)
    else _group_by_agg(df, conf)
)


def _bq_client(conf):
    from bento_spark.sources.gcp_bigquery import BigQueryClient

    return BigQueryClient(
        conf.get("endpoint") or "https://bigquery.googleapis.com",
        conf["project"],
        token_provider=None,
    )


def _proc_bigquery_select(df: DataFrame, conf) -> DataFrame:
    """`gcp_bigquery_select` (processor_bigquery_select.go): per-message
    SELECT with REAL positional query parameters. `args_mapping`
    resolves to an array per message and each `?` binds one parameter
    via jobs.query `queryParameters` (parameterMode=POSITIONAL) —
    message data never splices into the SQL text, so string keys need
    no quoting and content cannot inject SQL. The reference builds
    `SELECT columns FROM \\`table\\` WHERE where` the same way
    (bigquery.go buildQuery); the raw `query`/`sql` shorthand stays
    supported. Rows replace the content as a JSON array."""
    import json as _json

    from bento_spark.bloblang.field import compile_field
    from bento_spark.bloblang.interp import interpret_mapping
    from bento_spark.operators.envelope import META, ensure_envelope, per_message

    conf = conf or {}
    if conf.get("query") or conf.get("sql"):
        sql = str(conf.get("query") or conf["sql"])
    else:
        cols = ", ".join(conf.get("columns") or ["*"])
        sql = f"SELECT {cols} FROM `{conf['table']}`"
        if conf.get("where"):
            sql += f" WHERE {conf['where']}"
    if conf.get("prefix"):
        sql = str(conf["prefix"]) + " " + sql
    if conf.get("suffix"):
        sql = sql + " " + str(conf["suffix"])
    args_src = conf.get("args_mapping")
    if args_src and not str(args_src).strip().startswith("root"):
        args_src = "root = " + str(args_src)
    key_tpl = conf.get("id") or conf.get("key")

    df = ensure_envelope(df)
    if key_tpl and not args_src:
        # legacy single-key surface: one positional parameter
        df = df.withColumn("__bq_arg", compile_field(str(key_tpl), df))

    def call(client, row):
        if args_src:
            args, _ = interpret_mapping(
                args_src, row.get("content") or "", dict(row[META] or {})
            )
            if not isinstance(args, (list, tuple)):
                raise TypeError(
                    "args_mapping returned non-array result: "
                    f"{type(args).__name__}"
                )
            args = list(args)
        elif key_tpl:
            args = [row["__bq_arg"]]
        else:
            args = None
        rows = client.query(sql, params=args)
        return _json.dumps(rows, separators=(",", ":"))

    out = per_message(df, call, open=lambda: _bq_client(conf))
    return out.drop("__bq_arg") if "__bq_arg" in df.columns else out


PROCESSORS["gcp_bigquery_select"] = _proc_bigquery_select

PROCESSORS.update({
    "grok": _proc_grok,
    "parse_log": _proc_parse_log,
    "json_schema": _proc_json_schema,
    "msgpack": _proc_msgpack,
})


def _proc_split(df: DataFrame, conf) -> DataFrame:
    """`split` (processor_split.go): re-chunk the stream into batches of
    `size` messages (exact closed form) or `byte_size` bytes (next-fit
    recurrence). The batch lands as the bookkeeping column ``__batch``
    that downstream batch-scoped stages key on — `archive` emits one
    message per split batch, sinks can partition output files by it."""
    from bento_spark.operators.batching import split_batches, split_batches_bytes

    conf = conf or {}
    size = int(conf.get("size", 1) or 0)
    byte_size = int(conf.get("byte_size", 0) or 0)
    df = ensure_env(df)
    if "__idx" not in df.columns:
        df = df.withColumn("__idx", F.monotonically_increasing_id())
    order = [F.col("__idx")]
    if byte_size > 0:
        return split_batches_bytes(
            df, order, byte_size, size=size, out_col="__batch"
        )
    if size <= 0:
        raise ConfigError("split: size or byte_size must be positive")
    return split_batches(df, order, size, out_col="__batch")


def _proc_insert_part(df: DataFrame, conf) -> DataFrame:
    """`insert_part` (processor_insert_part.go): insert one interpolated
    message at `index` (negative = from the end). The content template
    evaluates against the FIRST pre-existing message (the reference
    copies that message's metadata; batch-level functions like
    batch_size() are constant across the batch)."""
    from bento_spark.bloblang.field import compile_field
    from bento_spark.operators.batching import insert_part as _ip

    conf = conf or {}
    df = ensure_env(df)
    if "__idx" not in df.columns:
        df = df.withColumn("__idx", F.monotonically_increasing_id())
    tpl = str(conf.get("content", ""))
    try:
        first = (
            df.withColumn("__ipc", compile_field(tpl, df))
            .orderBy("__idx").select("__ipc").limit(1).collect()
        )
        content_val = first[0][0] if first else tpl
    except Exception:  # noqa: BLE001 - non-interpolable template
        content_val = tpl
    return _ip(
        df, [F.col("__idx")], int(conf.get("index", -1)), F.lit(content_val)
    )


PROCESSORS["split"] = _proc_split
PROCESSORS["insert_part"] = _proc_insert_part


def _buffer_system_window(df: DataFrame, conf) -> DataFrame:
    """`system_window` buffer (buffer_system_window.go): allocate each
    message to its tumbling/sliding window and stamp the reference's
    `window_end_timestamp` metadata (RFC3339). Sliding windows (slide <
    size) multiply-deliver — Spark's window projection explodes a row
    into every window it belongs to, the buffer's documented behavior.
    Downstream batch-scoped stages key on ``__batch`` (= the window), so
    `archive`/group aggregation flush per window like the reference's
    per-window batches. `allowed_lateness` applies as the watermark in
    streaming mode (the flush-delay role it plays in the reference)."""
    from bento_spark.operators.cachepolicy import parse_duration_s
    from bento_spark.operators.envelope import META
    from bento_spark.streaming.windows import sliding, tumbling

    def _iv(v):
        # Go duration strings ("1h", "500ms") -> Spark interval strings
        return f"{int(parse_duration_s(v) * 1000)} milliseconds"

    conf = conf or {}
    size = _iv(conf.get("size", "1h"))
    slide = conf.get("slide")
    offset = conf.get("offset")
    if slide:
        slide = _iv(slide)
    if offset:
        offset = _iv(offset)
    tsm = str(conf.get("timestamp_mapping", "")).strip()
    df = ensure_env(df)
    if tsm and tsm != "root = now()":
        expr_src = tsm.removeprefix("root").lstrip().removeprefix("=").strip()
        ts = compile_expr(expr_src, df=_lift_content(df))
        df = _lift_content(df)
    else:
        # processing time; fixed at plan time so every row of the batch
        # shares one deterministic allocation instant
        ts = F.current_timestamp()
    df = df.withColumn("__swts", ts.cast("timestamp"))
    if df.isStreaming and conf.get("allowed_lateness"):
        df = df.withWatermark("__swts", _iv(conf["allowed_lateness"]))
    win = (
        sliding("__swts", size, slide, offset)
        if slide
        else tumbling("__swts", size, offset)
    )
    df = df.withColumn("__win", win)
    return (
        df.withColumn(
            META,
            F.map_concat(
                F.col(META),
                F.create_map(
                    F.lit("window_end_timestamp"),
                    F.date_format(
                        F.col("__win.end"), "yyyy-MM-dd'T'HH:mm:ssXXX"
                    ),
                ),
            ),
        )
        .withColumn("__batch", F.unix_timestamp(F.col("__win.end")))
        .drop("__swts", "__win")
    )
from bento_spark.plans import processors2 as _processors2  # noqa: E402,F401  (part-2 processor names)
