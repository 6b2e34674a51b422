"""`python` processor — REAL per-message Python execution.

Reference: website/docs/components/processors/python.md (the reference
embeds a Python interpreter; this engine IS Python, so the script runs
natively inside an Arrow-batched ``envelope.per_message`` stage). Script
contract, matching the docs examples:

* ``this`` — the parsed document (dict/list/scalar; raw string if the
  content is not JSON);
* ``root`` — starts as an empty dict; what the script puts in it
  becomes the new document (``root["x"] = ...``). A script that leaves
  ``root`` empty passes the message through unchanged;
* ``metadata(key)`` — read a metadata value;
* raising inside the script sets ``_error`` for that message only (the
  reference's per-message error channel), it never fails the task.

Scale: embarrassingly parallel narrow map, the same execution profile
as every Pandas-UDF stage; the script compiles ONCE per executor.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame


def python_processor(df: DataFrame, script: str) -> DataFrame:
    from bento_spark.operators.envelope import META, ensure_envelope, per_message

    df = ensure_envelope(df)
    if "content" not in df.columns:
        from pyspark.sql import functions as F

        from bento_spark.operators.envelope import data_cols

        cols = data_cols(df)
        df = df.withColumn("content", F.to_json(F.struct(*cols))).drop(*cols)
    code = compile(script, "<python processor>", "exec")

    def call(row):
        content = row["content"]
        try:
            this = json.loads(content) if content else None
        except (ValueError, TypeError):
            this = content
        scope = {
            "this": this,
            "root": {},
            "metadata": (row[META] or {}).get,
            "json": json,
        }
        exec(code, scope)  # noqa: S102 - the processor IS user code
        root = scope["root"]
        return json.dumps(root, separators=(",", ":")) if root else content

    return per_message(
        df, call,
        errors={Exception: lambda ex: f"python: {type(ex).__name__}: {ex}"},
    )


def _register() -> None:
    from bento_spark.plans.pipeline import PROCESSORS

    PROCESSORS["python"] = lambda df, conf: python_processor(
        df, conf if isinstance(conf, str) else conf["script"]
    )


_register()
