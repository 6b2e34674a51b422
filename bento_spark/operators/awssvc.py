"""AWS service-call processors — `aws_lambda`, `aws_dynamodb_partiql`,
`aws_bedrock_invoke` — over the public REST/JSON APIs with REAL SigV4
signing (functions/awsauth.py), pure stdlib, no boto3.

Reference parity:
* aws_lambda            — internal/impl/aws/processor_lambda.go (the
  Invoke API: POST /2015-03-31/functions/{name}/invocations, response
  payload replaces the message; X-Amz-Function-Error marks the row
  errored without failing the batch).
* aws_dynamodb_partiql  — internal/impl/aws/processor_dynamodb_partiql.go
  (BatchExecuteStatement, x-amz-json-1.0, 25 statements per protocol
  batch, per-statement error surfacing).
* aws_bedrock_invoke    — internal/impl/aws/processor_bedrock_invoke.go
  (bedrock-runtime InvokeModel: POST /model/{id}/invoke).

Spark shape: lambda/bedrock requests are independent RPCs, so they run
through `envelope.per_message` on a bounded per-partition thread pool
(like operators/http.py); PartiQL batches ride the protocol's own
25-statement batching in a mapInPandas stage. Failures land in
`_error`."""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructType

Transport = Callable[..., tuple[int, dict, str]]
"""(method, url, body_bytes, headers) -> (status, resp_headers, resp_body)"""


def urllib_aws_transport(method, url, body, headers):
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=body, headers=headers, method=method)
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
            return resp.status, dict(resp.headers), resp.read().decode("utf-8")
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers), e.read().decode("utf-8")


def _signed_call(
    transport: Transport,
    endpoint: str,
    path: str,
    body: bytes,
    service: str,
    region: str,
    access_key: str,
    secret_key: str,
    extra_headers: dict[str, str] | None = None,
) -> tuple[int, dict, str]:
    from urllib.parse import urlparse

    from bento_spark.functions.awsauth import sign_request

    host = urlparse(endpoint).netloc
    amz_date = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    headers = sign_request(
        "POST",
        host,
        path,
        extra_headers or {"content-type": "application/json"},
        body,
        access_key,
        secret_key,
        region,
        service,
        amz_date,
    )
    return transport("POST", endpoint.rstrip("/") + path, body, headers)


def lambda_invoke_enrich(
    df: DataFrame,
    endpoint: str,
    function_name: str,
    body_col: str,
    out_col: str = "lambda_result",
    region: str = "us-east-1",
    access_key: str = "local",
    secret_key: str = "local",
    max_conc: int = 8,
    transport: Transport = urllib_aws_transport,
) -> DataFrame:
    """`aws_lambda` processor: invoke per message, response payload in
    ``out_col``; a function error (X-Amz-Function-Error header) or non-2xx
    flags `_error` for that row only."""
    from bento_spark.operators.envelope import MessageError, per_message

    path = f"/2015-03-31/functions/{function_name}/invocations"

    def call(row):
        status, rh, text = _signed_call(
            transport, endpoint, path, str(row[body_col]).encode("utf-8"),
            "lambda", region, access_key, secret_key,
        )
        fn_err = {k.lower(): v for k, v in rh.items()}.get("x-amz-function-error")
        if fn_err:
            raise MessageError(f"lambda function error ({fn_err}): {text[:200]}")
        if status >= 300:
            raise MessageError(f"lambda HTTP {status}: {text[:200]}")
        return text

    return per_message(
        df, call, out=out_col, skip_errored=False, threads=max_conc,
        errors={Exception: lambda ex: f"lambda: {ex}"},
    )


def dynamodb_partiql(
    df: DataFrame,
    endpoint: str,
    query: str,
    args_cols: list[str],
    out_col: str = "partiql_result",
    region: str = "us-east-1",
    access_key: str = "local",
    secret_key: str = "local",
    transport: Transport = urllib_aws_transport,
) -> DataFrame:
    """`aws_dynamodb_partiql` processor: one statement per message
    (Parameters = row columns as string attribute values), shipped in
    the protocol's 25-statement BatchExecuteStatement envelopes. Each
    statement's Items land JSON-encoded in ``out_col``; per-statement
    errors flag that row's `_error` (batch continues)."""
    from bento_spark.operators.envelope import ERROR, ensure_envelope

    df = ensure_envelope(df)
    schema = StructType(list(df.schema.fields)).add(out_col, StringType())
    CHUNK = 25  # BatchExecuteStatement protocol limit

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            stmts = [
                {
                    "Statement": query,
                    "Parameters": [{"S": str(row[c])} for c in args_cols],
                }
                for _, row in pdf.iterrows()
            ]
            out: list[str | None] = []
            errs: list[str | None] = []
            for i in range(0, len(stmts), CHUNK):
                body = json.dumps({"Statements": stmts[i : i + CHUNK]}).encode()
                try:
                    status, _rh, text = _signed_call(
                        transport, endpoint, "/", body, "dynamodb", region,
                        access_key, secret_key,
                        {
                            "content-type": "application/x-amz-json-1.0",
                            "x-amz-target": "DynamoDB_20120810.BatchExecuteStatement",
                        },
                    )
                    if status >= 300:
                        raise RuntimeError(f"HTTP {status}: {text[:200]}")
                    resps = json.loads(text).get("Responses", [])
                    for r in resps:
                        if r.get("Error"):
                            out.append(None)
                            errs.append(
                                f"partiql: {r['Error'].get('Code')}: "
                                f"{r['Error'].get('Message', '')[:200]}"
                            )
                        else:
                            items = r.get("Item")
                            if items is None:
                                items = r.get("Items", [])
                            out.append(json.dumps(items, sort_keys=True))
                            errs.append(None)
                except Exception as e:  # noqa: BLE001
                    n = len(stmts[i : i + CHUNK])
                    out.extend([None] * n)
                    errs.extend([f"partiql: {e}"] * n)
            pdf = pdf.copy()
            pdf[out_col] = pd.array(out, dtype=object)
            pdf[ERROR] = pd.array(
                [e if e is not None else p for e, p in zip(errs, pdf[ERROR])],
                dtype=object,
            )
            yield pdf

    return df.mapInPandas(gen, schema)


def bedrock_invoke_enrich(
    df: DataFrame,
    endpoint: str,
    model_id: str,
    body_col: str,
    out_col: str = "model_response",
    region: str = "us-east-1",
    access_key: str = "local",
    secret_key: str = "local",
    max_conc: int = 4,
    transport: Transport = urllib_aws_transport,
) -> DataFrame:
    """`aws_bedrock_invoke` processor: InvokeModel per message (the
    request body is the model-native JSON the reference builds from the
    message), response JSON in ``out_col``."""
    from urllib.parse import quote

    from bento_spark.operators.envelope import MessageError, per_message

    path = f"/model/{quote(model_id, safe='')}/invoke"

    def call(row):
        status, _rh, text = _signed_call(
            transport, endpoint, path, str(row[body_col]).encode("utf-8"),
            "bedrock", region, access_key, secret_key,
        )
        if status >= 300:
            raise MessageError(f"bedrock HTTP {status}: {text[:200]}")
        return text

    return per_message(
        df, call, out=out_col, skip_errored=False, threads=max_conc,
        errors={Exception: lambda ex: f"bedrock: {ex}"},
    )


def _register() -> None:
    from bento_spark.plans.pipeline import PROCESSORS

    def _creds(conf):
        return {
            "region": conf.get("region", "us-east-1"),
            "access_key": conf.get("access_key", "local"),
            "secret_key": conf.get("secret_key", "local"),
        }

    def _ep(conf, svc):
        # endpoint optional in configs (the reference derives it from
        # the region); explicit endpoints point at emulators/tests
        return conf.get("endpoint") or "https://{s}.{r}.amazonaws.com".format(
            s=svc, r=conf.get("region", "us-east-1")
        )

    PROCESSORS["aws_lambda"] = lambda df, conf: lambda_invoke_enrich(
        df, _ep(conf, "lambda"), conf["function"], conf.get("body", "content"),
        conf.get("result_column", "lambda_result"), **_creds(conf),
    )
    PROCESSORS["aws_dynamodb_partiql"] = lambda df, conf: dynamodb_partiql(
        df, _ep(conf, "dynamodb"), conf["query"], list(conf.get("args", [])),
        conf.get("result_column", "partiql_result"), **_creds(conf),
    )
    PROCESSORS["aws_bedrock_invoke"] = lambda df, conf: bedrock_invoke_enrich(
        df, _ep(conf, "bedrock-runtime"), conf.get("model") or conf.get("model_id", ""),
        conf.get("body", "content"),
        conf.get("result_column", "model_response"), **_creds(conf),
    )


_register()
