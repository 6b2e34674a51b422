"""Bloblang compiler semantics, mirroring the reference's example-based
test style (internal/bloblang/query/methods_test.go, inline
NewExampleSpec pairs): expression -> expected value on fixed rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bento_spark.bloblang import compile_expr, compile_mapping


@pytest.fixture(scope="module")
def row_df(spark):
    return spark.createDataFrame(
        [
            (1, "Hello World", 7.5, ["a", "b", "a"], {"x": "1"}, "alpha"),
            (2, "  pad  ", -3.0, [], {"y": "2"}, "beta"),
        ],
        "id long, s string, n double, arr array<string>, m map<string,string>, tag string",
    )


CASES = [
    # (bloblang expr, expected per row)
    ("this.id + 1", [2, 3]),
    ("this.n * 2", [15.0, -6.0]),
    ("this.s.uppercase()", ["HELLO WORLD", "  PAD  "]),
    ("this.s.lowercase()", ["hello world", "  pad  "]),
    ("this.s.trim()", ["Hello World", "pad"]),
    ("this.s.length()", [11, 7]),
    ("this.s.contains(\"World\")", [True, False]),
    ("this.s.has_prefix(\"Hello\")", [True, False]),
    ("this.s.split(\" \")", [["Hello", "World"], ["", "", "pad", "", ""]]),
    ("this.s.replace_all(\"l\", \"L\")", ["HeLLo WorLd", "  pad  "]),
    ("this.s.slice(0, 5)", ["Hello", "  pad"]),
    ("this.n.abs()", [7.5, 3.0]),
    ("this.n.floor()", [7, -3]),
    ("this.n.round()", [8, -3]),
    ("this.arr.length()", [3, 0]),
    ("this.arr.unique().sort()", [["a", "b"], []]),
    ("this.arr.join(\"-\")", ["a-b-a", ""]),
    ("this.arr.map_each(x -> x.uppercase())", [["A", "B", "A"], []]),
    ("this.arr.filter(x -> x == \"a\")", [["a", "a"], []]),
    ("this.arr.any(x -> x == \"b\")", [True, False]),
    ("this.arr.all(x -> x == \"a\")", [False, True]),
    ("this.id == 1 && this.n > 0", [True, False]),
    ("this.id == 1 || this.id == 2", [True, True]),
    ("!(this.id == 1)", [False, True]),
    ("if this.n > 0 { \"pos\" } else { \"neg\" }", ["pos", "neg"]),
    (
        "match this.tag { \"alpha\" => 1, \"beta\" => 2, _ => 0 }",
        [1, 2],
    ),
    ("this.m.keys()", [["x"], ["y"]]),
    ("(this.missing_field | \"dflt\")", ["dflt", "dflt"]),
    ("this.s.hash(\"md5\").length()", [16, 16]),
    ("this.s.encode(\"base64\").decode(\"base64\").string()", ["Hello World", "  pad  "]),
    ("this.id.string()", ["1", "2"]),
    ("\"n=%v\".format(this.id)", ["n=1", "n=2"]),
    ("this.arr.index(0)", ["a", None]),
    ("this.n.max()", None),  # max is array-only; skip marker
]


@pytest.mark.parametrize("src,expected", [c for c in CASES if c[1] is not None])
def test_expr(row_df, src, expected):
    got = [
        r["out"]
        for r in row_df.select(compile_expr(src, df=row_df).alias("out"))
        .orderBy("id")
        .collect()
    ]
    assert got == expected, f"{src}: {got} != {expected}"


def test_mapping_mutation(row_df):
    plan = compile_mapping(
        """
# enrich in place
let bonus = 10
root.double_n = this.n * 2
root.label = this.s.trim().lowercase()
root.total = this.id + $bonus
meta kind = "test"
"""
    )
    out = plan.apply(row_df).orderBy("id").collect()
    assert [r["double_n"] for r in out] == [15.0, -6.0]
    assert [r["label"] for r in out] == ["hello world", "pad"]
    assert [r["total"] for r in out] == [11, 12]
    assert [r["_metadata"]["kind"] for r in out] == ["test", "test"]


def test_mapping_new_document(row_df):
    plan = compile_mapping('root = {"key": this.id, "up": this.s.uppercase()}')
    out = plan.apply(row_df, new_document=True)
    assert sorted(out.columns) == ["_error", "_metadata", "key", "up"]
    assert [r["up"] for r in out.orderBy("key").collect()] == [
        "HELLO WORLD",
        "  PAD  ",
    ]


def test_mapping_root_deleted(row_df):
    plan = compile_mapping("root = if this.id == 1 { deleted() }")
    out = plan.apply(row_df)
    assert [r["id"] for r in out.collect()] == [2]


def test_untaken_branch_registers_no_error(spark):
    """Lazy branch evaluation (ADVICE r10 #1): error-capable
    expressions inside an UNTAKEN if/match branch or a short-circuited
    boolean RHS must not error the row; a TAKEN branch still does."""
    df = spark.createDataFrame([(1, 5), (2, None)], "id long, a long")

    plan = compile_mapping(
        "root.x = if this.a != null { this.a + 1 } else { 0 }"
    )
    out = plan.apply(df).orderBy("id").collect()
    assert [(r["x"], r["_error"]) for r in out] == [(6, None), (0, None)]

    plan = compile_mapping(
        'root.y = match { this.a != null => this.a * 2, _ => -1 }'
    )
    out = plan.apply(df).orderBy("id").collect()
    assert [(r["y"], r["_error"]) for r in out] == [(10, None), (-1, None)]

    plan = compile_mapping(
        "root.z = this.a != null && this.a.not_null() == 5"
    )
    out = plan.apply(df).orderBy("id").collect()
    assert [(r["z"], r["_error"]) for r in out] == [
        (True, None), (False, None),
    ]

    # taken branch: the error still fires
    plan = compile_mapping("root.w = if true { this.a + 1 } else { 0 }")
    out = plan.apply(df).orderBy("id").collect()
    assert out[0]["_error"] is None
    assert out[1]["_error"] is not None


def test_statement_ordering(row_df):
    # later statements see earlier assignments (executor.go:42-65)
    plan = compile_mapping(
        """
root.a = this.id * 10
root.b = this.a + 1
"""
    )
    out = plan.apply(row_df).orderBy("id").collect()
    assert [r["b"] for r in out] == [11, 21]


def test_named_maps(row_df):
    plan = compile_mapping(
        """
map normalize {
  root.label = this.s.trim().lowercase()
  root.mag = this.n.abs()
}
root.norm = this.apply("normalize")
root.flat = this.apply("normalize").label
"""
    )
    out = plan.apply(row_df).orderBy("id").collect()
    assert [r["norm"]["label"] for r in out] == ["hello world", "pad"]
    assert [r["norm"]["mag"] for r in out] == [7.5, 3.0]
    assert [r["flat"] for r in out] == ["hello world", "pad"]


def test_new_string_methods(row_df):
    cases = [
        ('"<b>x</b>".strip_html()', "x"),
        ('"a&b".escape_html()', "a&amp;b"),
        ('"a&amp;b".unescape_html()', "a&b"),
        ('["a","b","c"].filepath_join()', "a/b/c"),
        ('["bb","a","ccc"].sort_by(x -> x.length())', ["a", "bb", "ccc"]),
        ('["bb","a"].contains("a")', True),  # array membership dispatch
        ('"hello".contains("ell")', True),
        ("[1, 2, 3].avg()", 2.0),
        ('["x","y","z"].find("y")', 1),
    ]
    for src, expected in cases:
        got = row_df.select(compile_expr(src, df=row_df).alias("o")).first()["o"]
        assert got == expected, src


def test_tier_report():
    from bento_spark.bloblang.stdlib import tier_report

    rep = tier_report()
    assert rep["methods"].get("a", 0) >= 30
    # tier c = Arrow-batched UDFs, ONLY for binary codecs with no JVM
    # primitive (msgpack/compress/jwt-hmac) — scalar paths stay a/b
    from bento_spark.bloblang.stdlib import METHODS

    c_methods = {n for n, (t, _) in METHODS.items() if t == "c"}
    jwt = {
        f"{op}_jwt_{fam}{bits}"
        for op in ("parse", "sign")
        for fam in ("hs", "rs", "es")
        for bits in (256, 384, 512)
    }
    geoip = {
        "geoip_city", "geoip_country", "geoip_asn", "geoip_enterprise",
        "geoip_anonymous_ip", "geoip_connection_type", "geoip_domain",
        "geoip_isp",
    }
    # encrypt_aes/decrypt_aes joined tier c in r9: reference-exact
    # ctr/ofb/cbc/gcm framing (no IV prefix, no padding) rules out
    # Spark's aes_encrypt — from-scratch AES via Arrow UDF instead
    # r9 additions: encrypt/decrypt_aes (reference framing rules out
    # F.aes_encrypt), format_json (Go MarshalIndent shape), parse_csv
    # (per-message dynamic header row)
    assert c_methods <= {
        "compress", "decompress", "format_msgpack", "parse_msgpack",
        "parse_yaml", "format_yaml", "parse_parquet", "diff", "patch",
        "parse_xml", "compare_argon2", "compare_bcrypt",
        "encrypt_aes", "decrypt_aes", "format_json", "parse_csv",
        "parse_form_url_encoded", "format_xml", "parse_big_decimal",
    } | jwt | geoip


def test_negative_index(row_df):
    # negative indices count from the end (methods_structured.go:699)
    got = [
        r["out"]
        for r in row_df.select(
            compile_expr("this.arr.index(-1)", df=row_df).alias("out")
        )
        .orderBy("id")
        .collect()
    ]
    assert got == ["a", None]
    got2 = [
        r["out"]
        for r in row_df.select(
            compile_expr("this.arr.index(-3)", df=row_df).alias("out")
        )
        .orderBy("id")
        .collect()
    ]
    assert got2 == ["a", None]


def test_root_conditional_object_with_deleted(row_df):
    # the kept branch must be applied to surviving rows, not discarded
    plan = compile_mapping(
        'root = if this.id == 1 { {"doubled": this.id * 2} } else { deleted() }'
    )
    out = plan.apply(row_df).collect()
    assert len(out) == 1
    assert out[0]["doubled"] == 2


def test_collapse_dot_path_flatten(spark):
    """collapse() flattens to dot-path keys (methods_structured.go
    example verbatim), dropping empty containers by default — the old
    compiled form returned a JSON STRING. Recursive flattening routes
    to the tier-c interpreter by design (ThrowInExpression)."""
    import json

    from bento_spark.bloblang.interp import interpret_mapping
    from bento_spark.plans.pipeline import PROCESSORS

    doc = {"foo": [{"bar": "1"}, {"bar": {}}, {"bar": "2"}, {"bar": []}]}
    out, _ = interpret_mapping(
        "root.result = this.collapse()", json.dumps(doc), {}
    )
    assert out == {"result": {"foo.0.bar": "1", "foo.2.bar": "2"}}

    df = spark.createDataFrame([(json.dumps(doc),)], "content string")
    rows = PROCESSORS["mapping"](df, "root.result = this.collapse()").collect()
    assert json.loads(rows[0]["content"]) == {
        "result": {"foo.0.bar": "1", "foo.2.bar": "2"}
    }


def test_type_on_variant_receiver_dispatches_per_value(spark):
    """ADVICE r8: F.typeof reports "variant" for every VARIANT receiver,
    so type() said "object" for variant strings/numbers; the compiler
    now dispatches on schema_of_variant per value."""
    from pyspark.sql import functions as F

    from bento_spark.bloblang.compiler import compile_expr

    rows = [
        ('"hi"', "string"), ("3", "number"), ("2.5", "number"),
        ("true", "bool"), ("null", "null"), ("[1,2]", "array"),
        ('{"a":1}', "object"),
    ]
    df = spark.createDataFrame([(j,) for j, _ in rows], "j string") \
        .select(F.parse_json("j").alias("v"))
    col = compile_expr("this.v.type()", df=df)
    got = [r.t for r in df.select(col.alias("t")).collect()]
    assert got == [want for _, want in rows]


def test_length_on_variant_content_counts_elements(spark, tmp_path):
    """`.length()` over raw JSON content (a VARIANT receiver) counts the
    elements of arrays and objects and the characters of strings, not
    the value's JSON text (`["blue","new"]` read 14)."""
    from bento_spark.plans.pipeline import build_pipeline

    docs = ['["blue","new"]', '{"a":1,"b":2}', '"blue"']
    src = tmp_path / "in.jsonl"
    src.write_text("".join(
        f'{{"id":{i},"tags":{d}}}\n' for i, d in enumerate(docs)
    ))
    out = tmp_path / "out"
    build_pipeline(spark, {
        "input": {"file": {"paths": [str(src)]}},
        "pipeline": {"processors": [
            {"mapping": "root.id = this.id\nroot.n = this.tags.length()"},
        ]},
        "output": {"parquet": {"path": str(out)}},
    }).run()
    got = {r.id: r.n for r in spark.read.parquet(str(out)).collect()}
    assert got == {0: 2, 1: 2, 2: 4}


def test_deletion_idioms_about_md(spark):
    """about.md:86-94 deletion + the nested redaction idiom
    (mapping/assignment.go:135) — both engines (VERDICT r8 #5)."""
    import json

    from bento_spark.bloblang.interp import interpret_mapping

    def compiled(src, doc):
        df = spark.read.json(spark.sparkContext.parallelize([json.dumps(doc)], 1))
        out = compile_mapping(src).apply(df, new_document=True)
        row = out.collect()[0].asDict(recursive=True)
        return {k: v for k, v in row.items()
                if not k.startswith("_") and v is not None}

    # about.md's own example
    src = "root = this\nroot.bar = deleted()"
    doc = {"id": "wat1", "message": "hello world", "bar": "remove me"}
    want = {"id": "wat1", "message": "hello world"}
    assert compiled(src, doc) == want
    assert interpret_mapping(src, json.dumps(doc), {})[0] == want

    # nested path deletion (the redaction idiom)
    src2 = "root = this\nroot.user.password = deleted()"
    doc2 = {"user": {"name": "ann", "password": "hunter2"}, "n": 1}
    want2 = {"user": {"name": "ann"}, "n": 1}
    assert compiled(src2, doc2) == want2
    assert interpret_mapping(src2, json.dumps(doc2), {})[0] == want2

    # three levels deep, sibling fields survive
    src3 = "root = this\nroot.a.b.c = deleted()"
    doc3 = {"a": {"b": {"c": 1, "d": 2}, "e": 5}}
    want3 = {"a": {"b": {"d": 2}, "e": 5}}
    assert compiled(src3, doc3) == want3
    assert interpret_mapping(src3, json.dumps(doc3), {})[0] == want3


def test_from_negative_index_tail_addressing(spark):
    """cache.md's batch-dedup idiom: `.from(-1)` addresses the LAST
    message of the batch (message.go Batch.Get wraps negatives), and
    `.from(0)` the first — exact under the __idx batch window."""
    df = spark.createDataFrame(
        [(0, '{"id":"a","tail":"t0"}'), (1, '{"id":"b","tail":"t1"}'),
         (2, '{"id":"c","tail":"t2"}')],
        "__idx long, content string",
    ).coalesce(1)
    plan = compile_mapping(
        'root.key = json("id").from(0) + json("tail").from(-1)'
    )
    out = plan.apply(df).orderBy("__idx").collect()
    assert [r["key"] for r in out] == ["at2", "at2", "at2"]


def test_if_branches_with_different_object_shapes(spark):
    """Dynamic branch shapes (mapping_parser.go if-expression; the
    generate.md doc example): an if/else returning differently-shaped
    objects compiles — struct branches merge to the union schema with
    missing fields null (to_json omits them, so serialized documents
    match the reference's per-branch result)."""
    df = spark.createDataFrame([(0,), (1,)], "n long")
    plan = compile_mapping(
        'root = if this.n % 2 == 0 {\n'
        '  {"type": "foo", "foo": "is yummy"}\n'
        '} else {\n'
        '  {"type": "bar", "bar": "is gross"}\n'
        '}\n'
    )
    rows = {r["type"]: r.asDict() for r in plan.apply(df).collect()}
    assert rows["foo"]["foo"] == "is yummy" and rows["foo"]["bar"] is None
    assert rows["bar"]["bar"] == "is gross" and rows["bar"]["foo"] is None

    # scalar-vs-object mismatch lifts to VARIANT, values intact
    plan = compile_mapping(
        'root.v = if this.n % 2 == 0 { {"a": 1} } else { "plain" }'
    )
    out = {r["n"]: r["v"] for r in plan.apply(df).collect()}
    assert out[0].toPython() == {"a": 1}
    assert out[1].toPython() == "plain"

    # match arms unify the same way
    plan = compile_mapping(
        'root.m = match this.n { 0 => {"x": 1}, _ => {"y": "z"} }'
    )
    out = {r["n"]: r["m"].asDict() for r in plan.apply(df).collect()}
    assert out[0] == {"x": 1, "y": None}
    assert out[1] == {"x": None, "y": "z"}
