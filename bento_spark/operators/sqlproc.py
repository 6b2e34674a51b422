"""SQL write processors: ``sql_insert`` / ``sql_raw``.

Reference: internal/impl/sql/processor_sql_insert.go (INSERT a row per
message, pass the message through) and processor_sql_raw.go (arbitrary
statement). JDBC jars are absent in this container, so the write
contract targets Spark catalog tables (file-backed; the same
foreachBatch→write shape a JDBC sink would use — swap the writer when
jars are present).

Batch: the insert executes when the processor runs (the pipeline is
built then immediately run). Streaming: wrap the sink side with
foreachBatch — the processor raises to direct users there rather than
silently dropping writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sql_insert(
    df: DataFrame,
    is_streaming: bool,
    table: str,
    columns: list[str],
    args_mapping: dict[str, str] | None = None,
) -> DataFrame:
    """Append `columns` (optionally renamed/derived via Bloblang
    ``args_mapping``) to a catalog table; messages pass through."""
    if is_streaming:
        raise ValueError(
            "sql_insert on a stream: use the sink layer's foreachBatch "
            "(run_sink with a `table` output) so inserts commit per "
            "micro-batch with the checkpoint"
        )
    if args_mapping:
        from bento_spark.bloblang import compile_expr

        if isinstance(args_mapping, str):
            # the reference's form: a Bloblang ARRAY mapping aligned
            # positionally with `columns`
            # (`args_mapping: root = [ this.a, this.b ]`)
            exprs = _args_exprs(args_mapping)
            if len(exprs) != len(columns):
                raise ValueError(
                    f"sql_insert: {len(columns)} columns but "
                    f"args_mapping yields {len(exprs)} values"
                )
            out = df.select(
                *[
                    compile_expr(src, df=df).alias(name)
                    for name, src in zip(columns, exprs)
                ]
            )
        else:
            out = df.select(
                *[
                    compile_expr(src, df=df).alias(name)
                    for name, src in args_mapping.items()
                ]
            )
    else:
        out = df.select(*columns)
    writer = out.write.mode("append")
    if "/" in table:  # path-backed
        writer.parquet(table)
    else:
        writer.saveAsTable(table)
    return df


def sql_raw(df: DataFrame, is_streaming: bool, query: str, view: str = "stream") -> DataFrame:
    """Execute an arbitrary SQL statement with the current stream
    registered as `view`; messages pass through (processor_sql_raw.go).
    Statements that RETURN rows should use the `sql` processor
    (sql_select) instead."""
    if is_streaming:
        raise ValueError("sql_raw on a stream: use foreachBatch at the sink")
    df.createOrReplaceTempView(view)
    df.sparkSession.sql(query)
    return df


def _split_top_level(src: str) -> list[str]:
    """Split a Bloblang array-literal body on TOP-LEVEL commas
    (bracket/paren/quote aware) — `[a, f(b, c), "x,y"]` -> 3 parts."""
    parts, depth, buf, quote = [], 0, [], None
    i = 0
    while i < len(src):
        ch = src[i]
        if quote:
            buf.append(ch)
            if ch == quote and src[i - 1] != "\\":
                quote = None
        elif ch in "\"'":
            quote = ch
            buf.append(ch)
        elif ch in "([{":
            depth += 1
            buf.append(ch)
        elif ch in ")]}":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
        i += 1
    if "".join(buf).strip():
        parts.append("".join(buf).strip())
    return parts


def _args_exprs(args_mapping: str) -> list[str]:
    """`root = [ e1, e2 ]` / `[ e1, e2 ]` -> ["e1", "e2"]."""
    src = args_mapping.strip()
    if src.startswith("root"):
        src = src.split("=", 1)[1].strip()
    if not (src.startswith("[") and src.endswith("]")):
        raise ValueError(
            "args_mapping must be an array literal (root = [ ... ])"
        )
    return _split_top_level(src[1:-1])


_PLACEHOLDER_RE = r"\?|\$\d+"


def _split_sql_placeholders(query: str) -> list[tuple[str, str]]:
    """Tokenize a SQL statement into ``("text", ...)`` / ``("ph", ...)``
    segments, recognizing `?` / `$N` placeholders ONLY outside string
    literals (`'...'` with `''` escape), quoted identifiers (`"..."`),
    line comments (`-- ...`), and block comments (`/* ... */`) — so
    `WHERE msg LIKE 'ok?'` contributes zero placeholders and the
    postgres-path substitution never splices a value inside a literal."""
    segs: list[tuple[str, str]] = []
    buf: list[str] = []
    i, n = 0, len(query)
    while i < n:
        ch = query[i]
        if ch == "'" or ch == '"':
            q = ch
            buf.append(ch)
            i += 1
            while i < n:
                buf.append(query[i])
                if query[i] == q:
                    if q == "'" and i + 1 < n and query[i + 1] == "'":
                        buf.append(query[i + 1])
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
        elif ch == "-" and query[i : i + 2] == "--":
            j = query.find("\n", i)
            j = n if j < 0 else j + 1
            buf.append(query[i:j])
            i = j
        elif ch == "/" and query[i : i + 2] == "/*":
            j = query.find("*/", i + 2)
            j = n if j < 0 else j + 2
            buf.append(query[i:j])
            i = j
        elif ch == "?":
            if buf:
                segs.append(("text", "".join(buf)))
                buf = []
            segs.append(("ph", "?"))
            i += 1
        elif ch == "$" and i + 1 < n and query[i + 1].isdigit():
            j = i + 1
            while j < n and query[j].isdigit():
                j += 1
            if buf:
                segs.append(("text", "".join(buf)))
                buf = []
            segs.append(("ph", query[i:j]))
            i = j
        else:
            buf.append(ch)
            i += 1
    if buf:
        segs.append(("text", "".join(buf)))
    return segs


def sql_raw_driver(df: DataFrame, conf: dict) -> DataFrame:
    """``sql_raw`` driver form (processor_sql_raw.go): run the
    statement per message against a REAL database, `?`/`$N`
    placeholders bound from ``args_mapping``.

    Drivers: ``duckdb`` (embedded, REAL positional parameter binding
    through the duckdb API — the reference ships the same embedded
    driver) and ``postgres`` (the repo's from-scratch pgwire client;
    the simple query protocol has no Bind message, so placeholders
    substitute CLIENT-SIDE through pg_quote escaping — values are
    always quoted, never spliced raw). Other documented drivers accept
    the config and fail at connect time.

    ``exec_only: true`` passes messages through; otherwise the result
    rows replace the content as a JSON array (the reference's
    enrichment shape). ``init_statement``/``init_files`` run once per
    connection. Embedded FILE-backed duckdb is single-writer, so the
    frame coalesces to one partition — the reference's
    ``conn_max_open: 1`` analog; ``:memory:`` keeps full parallelism
    (each partition owns its seeded copy)."""
    from bento_spark.bloblang import compile_expr
    from bento_spark.operators.envelope import ensure_envelope, per_message
    from bento_spark.plans.pipeline import _lift_content

    df = _lift_content(ensure_envelope(df))
    driver = conf["driver"]
    dsn = str(conf.get("dsn", ":memory:"))
    query = str(conf["query"])
    exec_only = bool(conf.get("exec_only"))
    init_stmt = str(conf.get("init_statement") or "")
    init_files = list(conf.get("init_files") or [])

    # compile each args_mapping element to a Column (JVM-side eval);
    # metadata("x") spellings ride the same compiler as everywhere else
    arg_cols = []
    if conf.get("args_mapping"):
        arg_cols = [
            compile_expr(e, df=df).cast("string")
            for e in _args_exprs(str(conf["args_mapping"]))
        ]
    segs = _split_sql_placeholders(query)
    phs = [t for k, t in segs if k == "ph"]
    n_ph = len(phs)
    if n_ph != len(arg_cols):
        raise ValueError(
            f"sql_raw: query has {n_ph} placeholders but args_mapping "
            f"yields {len(arg_cols)}"
        )

    df = ensure_envelope(df)
    for i, c in enumerate(arg_cols):
        df = df.withColumn(f"__sqlarg{i}", c)
    argnames = [f"__sqlarg{i}" for i in range(len(arg_cols))]
    if "content" not in df.columns:
        df = df.withColumn("content", F.lit(None).cast("string"))
    if driver == "duckdb" and dsn not in (":memory:", ""):
        df = df.coalesce(1)  # embedded single-writer file

    # $N -> positional ? (args reordered by appearance)
    order = [int(m[1:]) - 1 if m.startswith("$") else None for m in phs]
    q_pos = "".join("?" if k == "ph" else t for k, t in segs)

    def _connect():
        if driver == "duckdb":
            import duckdb

            con = duckdb.connect(dsn if dsn else ":memory:")
            for fp in init_files:
                con.execute(open(fp).read())
            if init_stmt:
                con.execute(init_stmt)
            return con
        if driver == "postgres":
            from urllib.parse import urlparse

            from bento_spark.operators.pgwire import PostgresClient

            u = urlparse(dsn)
            cli = PostgresClient(
                host=u.hostname or "localhost", port=u.port or 5432,
                user=u.username or "postgres", password=u.password or "",
                database=(u.path or "/postgres").lstrip("/"),
            )
            if init_stmt:
                cli.execute(init_stmt)
            return cli
        raise ValueError(
            f"sql_raw: driver {driver!r} needs an external server "
            "absent here (duckdb/postgres are live)"
        )

    def call(con, row):
        import json as _json

        raw = [row[a] for a in argnames]
        args = [raw[o] if o is not None else raw[j] for j, o in enumerate(order)]
        if driver == "duckdb":
            cur = con.execute(q_pos, args)
            rows = cur.fetchall()
            cols = [d[0] for d in (cur.description or [])]
        else:
            from bento_spark.operators.pgwire import pg_quote

            k = 0
            out = []
            for kind, p in segs:
                if kind == "ph":
                    out.append(pg_quote(args[k]))
                    k += 1
                else:
                    out.append(p)
            cols, rows = con.query("".join(out))
        if exec_only:
            return row["content"]
        return _json.dumps(
            [dict(zip(cols, r)) for r in rows],
            separators=(",", ":"), default=str,
        )

    return per_message(
        df, call, open=_connect,
        errors={Exception: lambda ex: f"sql_raw: {type(ex).__name__}: {ex}"},
    ).drop(*argnames)


def register_pipeline_processors() -> None:
    from bento_spark.plans.pipeline import PROCESSORS

    def _proc_sql_insert(df: DataFrame, conf) -> DataFrame:
        return sql_insert(
            df,
            False,
            conf["table"],
            conf.get("columns", []),
            conf.get("args_mapping"),
        )

    def _proc_sql_raw(df: DataFrame, conf) -> DataFrame:
        if isinstance(conf, dict) and conf.get("driver"):
            return sql_raw_driver(df, conf)
        q = conf if isinstance(conf, str) else conf["query"]
        view = "stream" if isinstance(conf, str) else conf.get("view", "stream")
        return sql_raw(df, False, q, view)

    PROCESSORS.setdefault("sql_insert", _proc_sql_insert)
    PROCESSORS.setdefault("sql_raw", _proc_sql_raw)


register_pipeline_processors()
