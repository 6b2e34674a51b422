"""Bloblang AST -> pyspark.sql.Column compiler.

Replaces the reference's per-message tree-walking interpreter
(internal/bloblang/mapping/executor.go:115 MapPart) with one-time
compilation to Column expression trees (SURVEY §3.2: "the single most
important design decision"). `let` variables are inlined (Catalyst
dedups common subexpressions); lambdas become higher-order-function
lambdas; `deleted()` at root becomes the mapping's drop condition.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bento_spark.bloblang import ast as A
from bento_spark.bloblang.parser import parse_expr, parse_mapping
from bento_spark.bloblang.stdlib import FUNCTIONS, METHODS


class CompileError(ValueError):
    pass


class UnsupportedConstruct(CompileError):
    """VALID reference syntax the Column engine cannot express (today:
    per-message-dynamic method args the compiled path needs statically).
    The pipeline routes these to the metered tier-c interpreter instead
    of failing the config — unknown names stay plain CompileError and
    stay LOUD (VERDICT r8 'What's wrong #3')."""


class _Deleted:
    """Sentinel: expression is `deleted()` (value/type_helpers.go:74)."""


DELETED = _Deleted()


@dataclass
class Env:
    """Compilation environment: lambda params + inlined let vars, plus an
    optional target DataFrame for schema-aware resolution (missing
    fields -> NULL like the reference; type-dispatched methods)."""

    vars: dict[str, Column] = field(default_factory=dict)
    df: object = None  # DataFrame | None
    maps: dict[str, object] = field(default_factory=dict)  # name -> [stmts]
    in_lambda: bool = False  # lambda vars can't be analyzed against df
    # zero-arg function overrides (e.g. generate's deterministic
    # counter()); checked before the global stdlib registry
    functions: dict[str, Column] = field(default_factory=dict)
    # static types of lambda vars (HOF element types) — the analysis
    # bridge _type_of cannot provide inside lambda bodies
    var_types: dict[str, object] = field(default_factory=dict)
    # per-message error conditions registered by error-capable methods
    # (not_null/not_empty/json_schema — the reference raises assignment
    # errors; columns can't, so the condition rides to _error). SHARED
    # across child envs; catch()/`|` truncate entries their receiver
    # registered (those swallow the error).
    error_sink: list = field(default_factory=list)

    def child(self, more: dict[str, Column], in_lambda: bool | None = None,
              var_types: dict | None = None) -> "Env":
        return Env(
            {**self.vars, **more},
            self.df,
            self.maps,
            self.in_lambda if in_lambda is None else in_lambda,
            self.functions,
            {**self.var_types, **(var_types or {})},
            self.error_sink,  # shared, not copied
        )


def _ast_type(node: A.Node, env: Env):
    """Static type of simple AST shapes inside lambdas: a bare lambda
    var (its registered element type) or `this` bound to one."""
    from pyspark.sql import types as T

    def walk(n, t):
        if t is None:
            return None
        return t

    if isinstance(n := node, A.Path) and isinstance(n.base, A.This):
        head, *rest = n.parts
        t = env.var_types.get(head)
        if t is None and "this" in env.var_types:
            t = env.var_types["this"]
            rest = [head, *rest]
        for p in rest:
            if isinstance(t, T.StructType) and p in t.fieldNames():
                t = t[p].dataType
            elif isinstance(t, T.MapType):
                t = t.valueType
            else:
                return None
        return t
    if isinstance(node, A.This):
        return env.var_types.get("this")
    if isinstance(node, A.Var):
        return env.var_types.get(node.name)
    if isinstance(node, A.Index):
        from pyspark.sql import types as T

        bt = _ast_type(node.base, env)
        if isinstance(bt, T.ArrayType):
            return bt.elementType
        return None
    return None


def _type_of(env: Env, col: Column):
    """Best-effort analysis-time type of an expression (None inside
    lambda bodies, where lambda variables can't be resolved)."""
    if env.df is None or env.in_lambda:
        return None
    try:
        return env.df.select(col.alias("__t")).schema[0].dataType
    except Exception:  # noqa: BLE001 - unresolvable (lambda vars etc.)
        return None


def _unify_branch_types(env: Env, cols: list[Column]) -> list[Column]:
    """CaseWhen requires one Spark type across branches; Bloblang
    branches are dynamic (mapping_parser.go if-expression — the
    generate.md doc example returns differently-shaped objects per
    branch). Identical types pass through; differing STRUCT shapes
    merge to the union schema with missing fields null (to_json omits
    nulls, so the serialized document matches the reference's dynamic
    result); any other mismatch lifts every branch to VARIANT (the
    dynamic operators handle it from there)."""
    types = [_type_of(env, c) for c in cols]
    if any(t is None for t in types):
        return cols  # unresolvable (lambda scope) — leave to Catalyst
    if all(t == types[0] for t in types[1:]):
        return cols
    from pyspark.sql import types as T

    # Catalyst's own CaseWhen coercion widens atomic mismatches (int vs
    # long, null vs anything) — only complex-shape mismatches need help
    live = [
        t for t in types
        if not isinstance(t, T.NullType)
    ]
    complex_t = (T.StructType, T.ArrayType, T.MapType, T.VariantType)
    if not live or not any(isinstance(t, complex_t) for t in live):
        return cols
    if all(t == live[0] for t in live[1:]):
        return cols  # one real type + null branches: Catalyst coerces
    if all(isinstance(t, T.StructType) for t in live):
        order: list[str] = []
        field_types: dict[str, object] = {}
        conflict = False
        for t in live:
            for f in t.fields:
                if f.name not in field_types:
                    order.append(f.name)
                    field_types[f.name] = f.dataType
                elif field_types[f.name] != f.dataType:
                    conflict = True
        if not conflict:
            out = []
            for c, t in zip(cols, types):
                if isinstance(t, T.NullType):
                    out.append(c)  # null branch: Catalyst coerces
                    continue
                have = {f.name for f in t.fields}
                out.append(F.struct(*[
                    (c.getField(n) if n in have
                     else F.lit(None).cast(field_types[n])).alias(n)
                    for n in order
                ]))
            return out
    return [_to_variant(c, t) for c, t in zip(cols, types)]


def _node_src_b(node: A.Node) -> str:
    """Receiver chains back to source-ish text for reference-style
    error messages (mirrors interp._node_src)."""
    if isinstance(node, A.This):
        return "this"
    if isinstance(node, A.Path):
        return ".".join([_node_src_b(node.base), *node.parts])
    if isinstance(node, A.MethodCall):
        return f"{_node_src_b(node.recv)}.{node.name}(...)"
    return "this"


def _to_variant(col: Column, dt) -> Column:
    """Lift any typed column to VARIANT (scalars cast directly; complex
    shapes round-trip through JSON)."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.StructType, T.ArrayType, T.MapType)):
        return F.parse_json(F.to_json(col))
    if isinstance(dt, T.VariantType):
        return col
    return col.cast("variant")


def _struct_merge(left: Column, lt, right: Column, rt) -> Column:
    """The reference's gabs-style merge (methods_structured.go merge):
    colliding keys GATHER into arrays unless both sides are objects
    (recursive merge); right-only keys append."""
    from pyspark.sql import types as T

    l_names = lt.fieldNames()
    r_names = rt.fieldNames()
    fields = []
    for n in l_names:
        if n not in r_names:
            fields.append(left[n].alias(n))
            continue
        ldt, rdt = lt[n].dataType, rt[n].dataType
        if isinstance(ldt, T.StructType) and isinstance(rdt, T.StructType):
            fields.append(_struct_merge(left[n], ldt, right[n], rdt).alias(n))
        elif ldt == rdt and not isinstance(ldt, T.ArrayType):
            fields.append(F.array(left[n], right[n]).alias(n))
        elif isinstance(ldt, T.ArrayType) and ldt.elementType == rdt:
            fields.append(F.array_append(left[n], right[n]).alias(n))
        else:
            fields.append(
                F.array(_to_variant(left[n], ldt),
                        _to_variant(right[n], rdt)).alias(n)
            )
    for n in r_names:
        if n not in l_names:
            fields.append(right[n].alias(n))
    return F.struct(*fields)


def _with_without(recv: Column, t, paths: list[str], keep: bool) -> Column:
    """with()/without() with DOT PATHS (methods_structured.go: args are
    dot paths, so `with("inner.a")` keeps inner.a inside inner)."""
    from pyspark.sql import types as T

    tops = {p for p in paths if "." not in p}
    nested: dict[str, list[str]] = {}
    for p in paths:
        if "." in p:
            h, rest = p.split(".", 1)
            nested.setdefault(h, []).append(rest)
    fields = []
    for f in t.fields:
        n = f.name
        col = recv[n]
        if keep:
            if n in tops:
                fields.append(col.alias(n))
            elif n in nested and isinstance(f.dataType, T.StructType):
                fields.append(
                    _with_without(col, f.dataType, nested[n], True).alias(n)
                )
        else:
            if n in tops:
                continue
            if n in nested and isinstance(f.dataType, T.StructType):
                col = _with_without(col, f.dataType, nested[n], False)
            fields.append(col.alias(n))
    return F.struct(*fields)


def _raw_this(env: Env) -> Column:
    """`this` over a raw `content` document: parse lazily to VARIANT.
    Unparseable content registers a per-message error on the shared
    sink — the reference errors the MESSAGE on structured access of
    non-JSON (message/data.go AsStructured), it never fails the
    config; catch()/or() recover it like any other mapping error."""
    parsed = F.try_parse_json(F.col("content"))
    env.error_sink.append(F.when(
        parsed.isNull() & F.col("content").isNotNull(),
        F.concat(
            F.lit("failed assignment (line 1): invalid character in "
                  "message content: "),
            F.substring(F.col("content"), 1, 20),
        ),
    ))
    return parsed


def _null_safe_field(env: Env, col: Column, p: str) -> Column:
    """`x.p` where the statically-known struct lacks `p` (or x is
    already a typed NULL) reads as null — the reference's IGet
    semantics (value/type_helpers.go) — instead of failing analysis.
    Inside lambdas (no resolvable type) the plain access stands."""
    from pyspark.sql import types as T

    t = _type_of(env, col)
    if isinstance(t, T.StructType):
        return col[p] if p in t.fieldNames() else F.lit(None)
    if isinstance(t, T.NullType):
        return F.lit(None)
    return col[p]


def compile_node(node: A.Node, env: Env) -> Column:
    if isinstance(node, A.Lit):
        return F.lit(node.value)
    if isinstance(node, A.ArrayLit):
        items = [compile_node(i, env) for i in node.items]
        arr = F.array(*items)
        hetero = False
        if items and env.df is not None and not env.in_lambda:
            if _type_of(env, arr) is None:
                hetero = True
            else:
                ts = [_type_of(env, i) for i in items]
                solid = [t for t in ts if t is not None]
                from pyspark.sql.types import NullType

                solid = [t for t in solid if not isinstance(t, NullType)]
                hetero = len({t.simpleString() for t in solid}) > 1
        if hetero:
            # heterogeneous elements (dynamic JSON array): lift every
            # element to VARIANT — Spark 4's dynamic type — so strings,
            # numbers, and objects coexist and serialize natively
            # (structs can't CAST to variant; they go via JSON)
            def _to_variant(col, node_):
                t = _type_of(env, col)
                from pyspark.sql import types as T

                if isinstance(t, (T.ArrayType, T.MapType, T.StructType)):
                    return F.parse_json(F.to_json(col))
                return col.cast("variant")

            items = [
                _to_variant(c, n) for c, n in zip(items, node.items)
            ]
            arr = F.array(*items)
        if any(_conditional_element(i) for i in node.items):
            # deleted()/if-without-else elements read as NULL; the
            # reference OMITS them from the array (Delete/Nothing in a
            # literal — literals.go) — compact the nulls away
            arr = F.array_compact(arr)
        return arr
    if isinstance(node, A.ObjectLit):
        if any(
            not (isinstance(k, A.Lit) and isinstance(k.value, str))
            for k, _v in node.entries
        ):
            # DYNAMIC keys ({loc.state: [loc.name]} in map_each) — a
            # map, not a struct (struct fields need static names)
            entries = []
            for k, v in node.entries:
                entries.append(compile_node(k, env).cast("string"))
                entries.append(compile_node(v, env))
            return F.create_map(*entries)
        cols = []
        for k, v in node.entries:
            cols.append(compile_node(v, env).alias(k.value))
        return F.struct(*cols)
    if isinstance(node, A.This):
        if "this" in env.vars:
            return env.vars["this"]
        if env.df is not None:
            if "__document" in env.df.columns:
                # a lifted top-level-array document (testrunner
                # _input_rows): `this` IS the array
                return F.col("__document")
            from bento_spark.operators.envelope import data_cols

            if data_cols(env.df) == ["content"]:
                # raw content: `this` parses lazily (the reference's
                # dual representation, message/data.go:57-68);
                # unparseable rows carry a per-message error that
                # catch()/try recover (doc-corpus catch#2)
                return _raw_this(env)
            # whole document = struct of the data columns
            return F.struct(*[F.col(c) for c in data_cols(env.df)])
        raise CompileError(
            "`this` as a whole document has no column form here; use this.<field>"
        )
    if isinstance(node, A.Path):
        # naked single-part paths may be lambda params / let vars
        if isinstance(node.base, A.This):
            head, *rest = node.parts
            if head in env.vars:
                col = env.vars[head]
            elif "this" in env.vars:
                col = env.vars["this"][head]
            elif env.df is not None and head not in env.df.columns:
                from bento_spark.operators.envelope import data_cols

                if (
                    "__document" not in env.df.columns
                    and data_cols(env.df) == ["content"]
                ):
                    # raw content path: lazy-parse and walk as VARIANT
                    col = F.try_variant_get(
                        _raw_this(env), f"$.{head}", "variant"
                    )
                    for p in rest:
                        col = F.try_variant_get(col, f"$.{p}", "variant")
                    return col
                # absent field reads as null (value/type_helpers.go
                # IGet* semantics), not an analysis error
                return F.lit(None)
            else:
                col = F.col(head)
            for p in rest:
                col = _null_safe_field(env, col, p)
            return col
        col = compile_node(node.base, env)
        for p in node.parts:
            col = _null_safe_field(env, col, p)
        return col
    if isinstance(node, A.Ctx):
        # `expr.(sub)`: sub evaluates with `this` bound to expr's value
        # (about.md coalescing — this.thing.(article | comment).type).
        # The named form `expr.(name -> sub)` binds `name` and leaves
        # `this` on the enclosing context (walkthrough.md).
        base = compile_node(node.base, env)
        bt = _type_of(env, base) or _ast_type(node.base, env)
        bind = node.param or "this"
        return compile_node(
            node.expr,
            env.child({bind: base}, var_types={bind: bt}),
        )
    if isinstance(node, A.Index):
        base = compile_node(node.base, env)
        # 0-based, null on out-of-bounds; negative indices count from the
        # end (methods_structured.go:699). Spark element_at is 1-based for
        # positives and already end-relative for negatives. A literal
        # index picks its branch statically (the dead 0-index branch
        # would fail analysis and poison type resolution). STRING bases
        # index characters (about.md single-element access).
        from pyspark.sql import types as T

        bt = _type_of(env, base) or _ast_type(node.base, env)
        if isinstance(bt, T.StringType):
            n = F.length(base)
            if isinstance(node.index, A.Lit) and isinstance(
                node.index.value, int
            ):
                i = node.index.value
                pos = F.lit(i + 1) if i >= 0 else n + F.lit(i + 1)
            else:
                idx = compile_node(node.index, env)
                pos = F.when(idx >= 0, idx + 1).otherwise(n + idx + 1)
            return F.when(
                (pos >= 1) & (pos <= n), F.substring(base, pos, 1)
            )
        if isinstance(node.index, A.Lit) and isinstance(node.index.value, int):
            i = node.index.value
            return F.try_element_at(
                base, F.lit(i + 1) if i >= 0 else F.lit(i)
            )
        idx = compile_node(node.index, env)
        return F.when(idx >= 0, F.try_element_at(base, idx + F.lit(1))).otherwise(
            F.try_element_at(base, idx)
        )
    if isinstance(node, A.Var):
        if node.name not in env.vars:
            raise CompileError(f"unknown variable ${node.name}")
        return env.vars[node.name]
    if isinstance(node, A.UnOp):
        v = compile_node(node.operand, env)
        return ~v if node.op == "!" else -v
    if isinstance(node, A.BinOp):
        sink_mark = len(env.error_sink)
        left = compile_node(node.left, env)
        if node.op == "|":
            # `|` recovers the left side's failure — drop any error
            # conditions it registered (same contract as catch())
            del env.error_sink[sink_mark:]
        rmark = len(env.error_sink)
        right = compile_node(node.right, env)
        # the reference evaluates boolean operands lazily
        # (query/arithmetic.go short-circuit): errors the RHS registers
        # only fire on rows where the RHS is actually evaluated
        if node.op == "&&":
            _gate_sink(env, rmark, F.coalesce(left, F.lit(False)))
        elif node.op == "||":
            _gate_sink(env, rmark, ~F.coalesce(left, F.lit(False)))
        elif node.op == "|":
            # coalesce pipe: the right side only evaluates when the
            # left yielded nothing
            _gate_sink(env, rmark, left.isNull())
        if node.op == "+":
            # Bloblang `+` concatenates strings (arithmetic.go); dispatch
            # on literal shape or the analyzed type, numeric otherwise
            from pyspark.sql.types import StringType

            stringy = (
                (isinstance(node.left, A.Lit) and isinstance(node.left.value, str))
                or (
                    isinstance(node.right, A.Lit)
                    and isinstance(node.right.value, str)
                )
                or isinstance(_type_of(env, left), StringType)
                or isinstance(_type_of(env, right), StringType)
            )
            if stringy:
                return F.concat(left.cast("string"), right.cast("string"))
        if node.op == "|":
            # coalesce across DIFFERENT type families (dynamic
            # documents): lift both sides to VARIANT, like catch.
            # Same-family types (int|bigint etc.) coerce natively.
            from pyspark.sql import types as T2

            def _family(t):
                if isinstance(t, T2.NumericType):
                    return "num"
                return t.simpleString()

            lt, rt = _type_of(env, left), _type_of(env, right)
            if (lt is not None and rt is not None
                    and not isinstance(lt, T2.NullType)
                    and not isinstance(rt, T2.NullType)
                    and _family(lt) != _family(rt)):
                from pyspark.sql import types as T

                def _v(c, t):
                    if isinstance(t, (T.ArrayType, T.MapType, T.StructType)):
                        return F.parse_json(F.to_json(c))
                    return c.cast("variant")

                return F.coalesce(_v(left, lt), _v(right, rt))
        if node.op in ("+", "-", "*", "/", "%") and not env.in_lambda:
            # arithmetic on null is a MESSAGE error (query/
            # arithmetic.go coercion) — register the per-row condition
            # on the shared sink; catch()/`|` recover it like the
            # interpreter's InterpError (walkthrough error-handling
            # section). Non-null rows see a false condition, nothing
            # else changes.
            #
            # The condition checks only operands that are NOT
            # themselves arithmetic BinOps: an arithmetic child is
            # null iff one of ITS operands is, and it registered its
            # own (deeper, earlier-coalesced = reference evaluation
            # order) entry. Embedding `left.isNull()` for a nested
            # arithmetic left would copy the whole subtree into the
            # error column — nested expressions then grow the plan
            # quadratically and stall Catalyst's subexpression
            # elimination (the differential corpus measured minutes
            # per mapping). Literals are never null and are skipped.
            def _nullable_operand(ast_node, col):
                if isinstance(ast_node, A.Lit):
                    return None
                if isinstance(ast_node, A.BinOp) and ast_node.op in (
                    "+", "-", "*", "/", "%"
                ):
                    return None  # covered by its own sink entry
                return col.isNull()
            parts = [
                p for p in (
                    _nullable_operand(node.left, left),
                    _nullable_operand(node.right, right),
                ) if p is not None
            ]
            if parts:
                cond = parts[0]
                for p in parts[1:]:
                    cond = cond | p
                env.error_sink.append(F.when(
                    cond,
                    F.lit(
                        f"failed assignment (line 1): cannot {node.op} "
                        f"types null and null"
                    ),
                ))
        out = _variant_binop(node.op, left, right, env)
        if out is not None:
            return out
        return _binop(node.op, left, right)
    if isinstance(node, A.If):
        cond = compile_node(node.cond, env)
        mark = len(env.error_sink)
        then = compile_node(node.then, env)
        # branches evaluate lazily (mapping_parser.go if-expression):
        # a `this.a + 1` inside an untaken branch must NOT error the row
        _gate_sink(env, mark, F.coalesce(cond, F.lit(False)))
        if isinstance(node.orelse, A.Node):
            mark = len(env.error_sink)
            orelse = compile_node(node.orelse, env)
            _gate_sink(env, mark, ~F.coalesce(cond, F.lit(False)))
            then, orelse = _unify_branch_types(env, [then, orelse])
            return F.when(cond, then).otherwise(orelse)
        return F.when(cond, then)
    if isinstance(node, A.Match):
        return _compile_match(node, env)
    if isinstance(node, A.FuncCall):
        return _compile_func(node, env)
    if isinstance(node, A.MethodCall):
        return _compile_method(node, env)
    if isinstance(node, A.Lambda):
        raise CompileError("lambda only valid as a higher-order method argument")
    raise CompileError(f"cannot compile node {node!r}")


def _conditional_element(node: A.Node) -> bool:
    """Array-literal elements whose value may be Delete/Nothing: a
    deleted() call, an if without else, or a match with a deleted
    branch."""
    if _is_deleted(node):
        return True
    if isinstance(node, A.If):
        # recursive: a chained `if/else if` (the statement-if desugar)
        # is Nothing-capable when its FINAL else is absent
        return (
            node.orelse is None
            or _is_deleted(node.then)
            or _conditional_element(node.then)
            or (isinstance(node.orelse, A.Node)
                and (_is_deleted(node.orelse)
                     or _conditional_element(node.orelse)))
        )
    if isinstance(node, A.Match):
        # a match with NO default case yields Nothing when nothing
        # matches (query_expression_parser.go) — like if-without-else
        no_default = all(c is not None for c, _v in node.cases)
        return no_default or any(_is_deleted(v) for _c, v in node.cases)
    return False


def _variant_binop(
    op: str, left: Column, right: Column, env: Env
) -> Column | None:
    """Dynamic-value operators: VARIANT operands (raw-content `this`,
    variantlift columns) have no native ordering/arithmetic — coerce to
    the OTHER side's type when it is known (the reference compares the
    dynamic value against the literal's type, arithmetic.go), else
    dispatch numeric-both / lexical like the reference's ICompare.
    Returns None when neither operand is VARIANT."""
    from pyspark.sql import types as T

    lt, rt = _type_of(env, left), _type_of(env, right)
    lv = isinstance(lt, T.VariantType)
    rv = isinstance(rt, T.VariantType)
    if not (lv or rv):
        return None
    cmp_ops = ("==", "!=", "<", "<=", ">", ">=")
    if op in ("&&", "||"):
        if lv:
            left = F.try_variant_get(left, "$", "boolean")
        if rv:
            right = F.try_variant_get(right, "$", "boolean")
        return _binop(op, left, right)
    if op not in cmp_ops and op not in ("+", "-", "*", "/", "%"):
        return None
    if op in ("==", "!=") and lv != rv:
        # equality against a KNOWN type: the reference's ICompare treats
        # cross-family equality (number vs string...) as a mismatch —
        # false for ==, true for != — never a coercion (ADVICE r10 #5:
        # `this.a == "5"` must NOT match the number 5). Numbers compare
        # numerically across int/float within the family.
        var_col, other_col, other_t = (
            (left, right, rt) if lv else (right, left, lt)
        )
        if other_t is not None and not isinstance(other_t, T.NullType):
            _NUM = "(TINYINT|SMALLINT|INT|BIGINT|FLOAT|DOUBLE|DECIMAL)"
            s = F.schema_of_variant(var_col)
            same = casted = known = None
            if isinstance(other_t, T.NumericType):
                # cast BOTH sides to double: casting the variant to the
                # literal's integer type truncates (5.5 -> 5 would make
                # `this.a == 5` true); ICompare compares numerically
                # across int/float (ADVICE r11 #2)
                same = s.rlike(f"^{_NUM}")
                casted = F.try_variant_get(var_col, "$", "double")
                known = other_col.cast("double")
            elif isinstance(other_t, T.StringType):
                same = s == F.lit("STRING")
            elif isinstance(other_t, T.BooleanType):
                same = s == F.lit("BOOLEAN")
            elif isinstance(other_t, T.ArrayType):
                # composite literals are also type-strict (ICompare walks
                # elements; a family mismatch is false/true, VERDICT r11
                # missing #3); element family is pinned in the rlike so
                # e.g. ARRAY<BIGINT> never string-coerces to match a
                # string-array literal
                et = other_t.elementType
                if isinstance(et, T.NumericType):
                    same = s.rlike(f"^ARRAY<{_NUM}")
                    casted = F.try_variant_get(var_col, "$", "array<double>")
                    known = other_col.cast("array<double>")
                elif isinstance(et, T.StringType):
                    same = s.rlike("^ARRAY<STRING")
                elif isinstance(et, T.BooleanType):
                    same = s.rlike("^ARRAY<BOOLEAN")
                else:  # nested composites: canonical-JSON equality
                    same = s.rlike("^ARRAY")
                    casted = F.to_json(var_col)
                    known = F.to_json(F.parse_json(F.to_json(other_col)))
            elif isinstance(other_t, (T.StructType, T.MapType)):
                # OBJECT equality via canonical JSON: variants normalize
                # key order and number shapes, so round-trip the known
                # side through parse_json for the same canonical form (a
                # struct cast would silently ignore extra variant keys)
                same = s.rlike("^OBJECT")
                casted = F.to_json(var_col)
                known = F.to_json(F.parse_json(F.to_json(other_col)))
            if same is not None:
                if casted is None:
                    casted = F.try_variant_get(
                        var_col, "$", other_t.simpleString()
                    )
                if known is None:
                    known = other_col
                eq = casted.eqNullSafe(known)
                if op == "!=":
                    return F.when(same, ~eq).otherwise(F.lit(True))
                return F.when(same, eq).otherwise(F.lit(False))
    if lv and not rv and rt is not None and not isinstance(rt, T.NullType):
        return _binop(
            op, F.try_variant_get(left, "$", rt.simpleString()), right
        )
    if rv and not lv and lt is not None and not isinstance(lt, T.NullType):
        return _binop(
            op, left, F.try_variant_get(right, "$", lt.simpleString())
        )
    if not (lv and rv):
        return None
    ln = F.try_variant_get(left, "$", "double")
    rn = F.try_variant_get(right, "$", "double")
    if op not in cmp_ops:
        return _binop(op, ln, rn)
    ls = F.coalesce(
        F.try_variant_get(left, "$", "string"), F.to_json(left)
    )
    rs = F.coalesce(
        F.try_variant_get(right, "$", "string"), F.to_json(right)
    )
    both_num = ln.isNotNull() & rn.isNotNull()
    return F.when(both_num, _binop(op, ln, rn)).otherwise(
        _binop(op, ls, rs)
    )


def _gate_sink(env: Env, mark: int, taken: Column) -> None:
    """Wrap error-sink entries registered past `mark` in the condition
    under which their branch is actually EVALUATED. The reference's
    interpreter walks if/match branches and boolean RHS lazily, so an
    error-capable expression in an untaken branch raises nothing
    (ADVICE r10 #1); sink entries are message columns that are null on
    non-erroring rows, so F.when(taken, e) nulls them out exactly on
    the rows where the branch never ran. The branch's entries are first
    MERGED into one coalesce (identical to how apply() later combines
    the whole sink — first non-null message wins), so the branch
    condition's expression tree is embedded ONCE per branch, not once
    per entry: nested branches over error-capable arithmetic otherwise
    multiply plan size enough to stall Catalyst's subexpression
    elimination (measured on the differential corpus)."""
    new = env.error_sink[mark:]
    if new:
        merged = new[0] if len(new) == 1 else F.coalesce(*new)
        env.error_sink[mark:] = [F.when(taken, merged)]


def _binop(op: str, left: Column, right: Column) -> Column:
    if op == "+":
        return left + right
    if op == "-":
        return left - right
    if op == "*":
        return left * right
    if op == "/":
        return left / right
    if op == "%":
        return left % right
    if op == "==":
        # VALUE equality (arithmetic.go compare): x == null is false
        # (true when both null), never SQL three-valued NULL
        return left.eqNullSafe(right)
    if op == "!=":
        return ~left.eqNullSafe(right)
    if op == ">":
        return left > right
    if op == "<":
        return left < right
    if op == ">=":
        return left >= right
    if op == "<=":
        return left <= right
    if op == "&&":
        return left & right
    if op == "||":
        return left | right
    if op == "|":  # coalesce pipe (arithmetic.go:18-33)
        return F.coalesce(left, right)
    raise CompileError(f"unknown operator {op}")


def _compile_match(node: A.Match, env: Env) -> Column:
    subj = compile_node(node.subject, env) if node.subject is not None else None
    expr: Column | None = None
    default: Column | None = None
    whens: list[tuple[Column, Column]] = []
    senv = env if subj is None else env.child(
        {"this": subj},
        var_types={"this": _ast_type(node.subject, env)} if subj is not None
        else None,
    )
    # each case value's error-sink entries gate on the case actually
    # being TAKEN (first match wins; branches evaluate lazily — see
    # _gate_sink). The gate is a FLAT conjunction over the raw case
    # conditions — never the accumulated gate itself, which would nest
    # exponentially (each taken embedding the previous ~prior chain).
    raw_conds: list[Column] = []
    for cond_node, value_node in node.cases:
        if cond_node is None:
            # the default branch sees the subject as `this` too
            mark = len(env.error_sink)
            default = compile_node(value_node, senv)
            if raw_conds:
                none_prior = ~raw_conds[0]
                for pc in raw_conds[1:]:
                    none_prior = none_prior & ~pc
                _gate_sink(env, mark, none_prior)
            continue
        cenv = senv
        cond = compile_node(cond_node, cenv)
        # literal cases test equality against the subject
        if subj is not None and isinstance(cond_node, A.Lit):
            cond = subj == cond
        taken = F.coalesce(cond, F.lit(False))
        for pc in raw_conds:
            taken = taken & ~pc
        mark = len(env.error_sink)
        value = compile_node(value_node, cenv)
        _gate_sink(env, mark, taken)
        raw_conds.append(F.coalesce(cond, F.lit(False)))
        whens.append((cond, value))
    if whens:
        vals = [v for _, v in whens] + (
            [default] if default is not None else []
        )
        vals = _unify_branch_types(env, vals)
        conds = [c for c, _ in whens]
        if default is not None:
            default = vals[-1]
            whens = list(zip(conds, vals[:-1]))
        else:
            whens = list(zip(conds, vals))
    for i, (c, v) in enumerate(whens):
        expr = F.when(c, v) if expr is None else expr.when(c, v)
    if expr is None:
        return default if default is not None else F.lit(None)
    return expr.otherwise(default) if default is not None else expr


def _compile_func(node: A.FuncCall, env: Env) -> Column:
    if node.name == "deleted":
        # value-position deleted(): the field/element reads as absent —
        # NULL serializes as an omitted JSON field (type_helpers.go
        # Delete at non-root targets). Root-position deletion is
        # extracted into the mapping's drop condition BEFORE this
        # compiles (see _root_delete_condition).
        return F.lit(None)
    if node.name in ("meta", "metadata", "root_meta"):
        if not node.args:
            # no-arg form: the whole metadata object
            # (query/functions.go meta() docs)
            return F.col("_metadata")
        key = node.args[0]
        if not isinstance(key, A.Lit):
            raise CompileError("meta key must be a literal")
        return F.col("_metadata")[key.value]
    if node.name == "batch_index" and env.df is not None and (
        "__idx" in env.df.columns
    ):
        # the unit-test runner stamps the true in-batch index; prefer it
        # over the partition-local monotonic analogue
        return F.col("__idx")
    if node.name == "error":
        return F.col("_error")
    if node.name == "errored":
        return F.col("_error").isNotNull()
    if node.name == "content":
        # raw message bytes (functions.go content). A single raw data
        # column (text/binary sources) IS the content; structured rows
        # serialize to canonical JSON — the same envelope convention the
        # archive/unarchive codecs use.
        if env.df is None:
            raise CompileError("content() needs a target schema to resolve")
        from pyspark.sql.types import BinaryType, StringType

        from bento_spark.operators.envelope import data_cols

        if "__raw" in env.df.columns:
            # the envelope kept the ORIGINAL serialized document (the
            # unit-test runner and JSON inputs) — content() is exactly
            # those bytes, not a re-serialization
            return F.col("__raw").cast("binary")
        cols = data_cols(env.df)
        if len(cols) == 1 and isinstance(
            env.df.schema[cols[0]].dataType, (StringType, BinaryType)
        ):
            return F.col(cols[0]).cast("binary")
        return F.to_json(F.struct(*[F.col(c) for c in cols])).cast("binary")
    if node.name == "json":
        # json() targets the whole source document regardless of mapping
        # context (functions.go json); with a path it walks dot parts
        if not node.args:
            return compile_node(A.This(), env)
        if isinstance(node.args[0], A.Lit):
            parts = str(node.args[0].value).split(".")
            if env.df is not None and parts[0] not in env.df.columns:
                if "content" in env.df.columns:
                    # content-only document (unlifted): walk the JSON
                    # text directly — the reference's json() is always
                    # a raw document access, independent of context
                    return F.get_json_object(
                        F.col("content"), "$." + ".".join(parts)
                    )
                # typed document without the field: dynamic semantics —
                # a missing path is null, not a compile failure
                return F.lit(None).cast("string")
            col = F.col(parts[0])
            for p in parts[1:]:
                col = col[p]
            return col
        raise CompileError("json() requires a literal path in column mode")
    if node.name in env.functions and not node.args:
        return env.functions[node.name]
    if node.name not in FUNCTIONS:
        raise CompileError(f"unknown function {node.name}()")
    _tier, fn = FUNCTIONS[node.name]
    args = [_arg(a, env) for a in node.args]
    kwargs = {}
    if any(n is not None for n in node.arg_names):
        from bento_spark.bloblang.stdlib import FUNCTION_PARAM_NAMES

        sig = FUNCTION_PARAM_NAMES.get(node.name)
        if sig is None:
            raise CompileError(
                f"function {node.name}() does not take named arguments"
            )
        by_name: dict = {}
        pos = 0
        for a, n in zip(args, node.arg_names):
            if n is None:
                by_name[sig[pos]] = a
                pos += 1
            elif n in sig:
                by_name[n] = a
            else:
                raise CompileError(
                    f"unknown parameter {n!r} for {node.name}()"
                )
        args = []
        for pname in sig:
            if pname not in by_name:
                break
            args.append(by_name.pop(pname))
        kwargs = by_name
    return fn(*args, **kwargs)


# receiver consumed as a raw literal (these builders need the static
# Python value — duration strings parse at compile time)
RAW_RECV_METHODS = {"format", "parse_duration", "parse_duration_iso8601"}


def _apply_named_map(recv: Column, map_name: str, env: Env) -> Column:
    """Inline a named map: its root assignments evaluate with `this`
    bound to the receiver; `root = expr` yields a value, `root.f = ...`
    yields a struct (mapping_parser.go:186-220 named maps + `apply`)."""
    if map_name not in env.maps:
        raise CompileError(f"unknown named map {map_name!r}")
    return _apply_stmts(recv, env.maps[map_name], env, f"named map {map_name!r}")


def _apply_stmts(recv: Column, stmts, env: Env, what: str) -> Column:
    menv = env.child({"this": recv})
    fields: list[Column] = []
    whole: Column | None = None
    for stmt in stmts:
        if isinstance(stmt, A.LetAssign):
            menv = menv.child({stmt.name: compile_node(stmt.expr, menv)})
            continue
        if isinstance(stmt, A.Assign):
            if stmt.target == ():
                whole = compile_node(stmt.expr, menv)
            else:
                fields.append(
                    compile_node(stmt.expr, menv).alias(".".join(stmt.target))
                )
            continue
        raise CompileError("named maps support let/root statements only")
    if whole is not None and not fields:
        return whole
    if fields:
        return F.struct(*fields)
    raise CompileError(f"{what} assigns nothing")


# methods whose semantics need the analyzed receiver type or the
# compilation environment; stdlib registers inventory markers for these
# and _compile_method dispatches here before the registry lookup
_ENV_METHODS = {
    "array",
    "set",
    "explode",
    "json_path",
    "json_schema",
    "from",
    "from_all",
    "bloblang",
    "sum",
    "catch",
    "keys",
    "key_values",
    "without",
    "with",
    "merge",
}


def _with_field_path(recv: Column, path: str, value: Column) -> Column:
    # Column.withField resolves dotted names as nested struct paths
    return recv.withField(path, value)


def _batch_list(recv: Column) -> Column:
    """All values of `recv` across the message batch, in batch order.
    Batch = the Spark partition (same analogue as batch_index/
    batch_size): one whole-partition window, sorted by in-batch index —
    no shuffle (functions.go from/from_all)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.spark_partition_id())
    idx = F.pmod(F.monotonically_increasing_id(), F.lit(1 << 33))
    pairs = F.collect_list(F.struct(idx.alias("i"), recv.alias("v"))).over(w)
    return F.transform(F.array_sort(pairs), lambda x: x["v"])


def _batch_list_env(recv: Column, env: Env) -> Column:
    """_batch_list, but when the unit-test runner's __idx column is
    present the batch is the WHOLE frame in true batch order (one
    window, exact) instead of the partition-local approximation."""
    if env.df is not None and "__idx" in env.df.columns:
        from pyspark.sql.window import Window

        w = Window.partitionBy(F.lit(1))
        pairs = F.collect_list(
            F.struct(F.col("__idx").alias("i"), recv.alias("v"))
        ).over(w)
        return F.transform(F.array_sort(pairs), lambda x: x["v"])
    return _batch_list(recv)


def _compile_env_method(node: A.MethodCall, env: Env) -> Column:
    from pyspark.sql import types as T
    from pyspark.sql.types import ArrayType, MapType, StringType

    recv = compile_node(node.recv, env)

    def lit_arg(i: int, what: str) -> object:
        if len(node.args) <= i:
            raise CompileError(f"{node.name}() takes a literal {what}")
        a = node.args[i]
        # constant-fold a negated numeric literal: `.from(-1)` parses
        # as UnOp('-', Lit(1)) (cache.md's tail addressing)
        if (
            isinstance(a, A.UnOp) and a.op == "-"
            and isinstance(a.operand, A.Lit)
            and isinstance(a.operand.value, (int, float))
        ):
            return -a.operand.value
        if not isinstance(a, A.Lit):
            # valid syntax with a per-message-dynamic argument: the
            # interpreter evaluates it per message (e.g.
            # this.body.bloblang(this.mapping))
            raise UnsupportedConstruct(
                f"{node.name}() with a dynamic {what} routes to the "
                "interpreter"
            )
        return a.value

    if node.name == "array":
        # wrap in an array unless already one (methods_structured.go)
        t = _type_of(env, recv)
        return recv if isinstance(t, ArrayType) else F.array(recv)
    if node.name == "set":
        path = str(lit_arg(0, "dot path"))
        from bento_spark.bloblang.stdlib import V, map_overwrite

        t = _type_of(env, recv)
        if len(node.args) > 1 and _is_deleted(node.args[1]):
            # set(path, deleted()) removes the path (methods.md set)
            if isinstance(t, MapType):
                return F.map_filter(recv, lambda k, _v: k != F.lit(path))
            if isinstance(t, T.StructType):
                return recv.dropFields(path)
            raise UnsupportedConstruct(
                "set(path, deleted()) on a dynamic value routes to "
                "the interpreter"
            )
        value = _arg(node.args[1], env) if len(node.args) > 1 else None
        if isinstance(t, MapType):
            return map_overwrite(recv, F.create_map(F.lit(path), V(value)))
        return _with_field_path(recv, path, V(value))
    if node.name == "explode":
        # array at path -> array of docs, each with path replaced by one
        # element; object at path -> same keyed by the object's keys
        # (methods_structured.go explode)
        path = str(lit_arg(0, "dot path"))
        sub = recv
        for part in path.split("."):
            sub = sub[part]
        t = _type_of(env, sub)
        if isinstance(t, MapType):
            return F.map_from_arrays(
                F.map_keys(sub),
                F.transform(
                    F.map_values(sub), lambda v: _with_field_path(recv, path, v)
                ),
            )
        return F.transform(sub, lambda x: _with_field_path(recv, path, x))
    if node.name == "json_path":
        path = str(lit_arg(0, "JSONPath expression"))
        if ".." in path or "[?(" in path:
            # recursive descent / filter predicates are beyond
            # get_json_object — the interpreter's mini-JSONPath walks
            # them per message
            raise UnsupportedConstruct(
                "json_path recursive descent / filters route to the "
                "interpreter"
            )
        t = _type_of(env, recv)
        src = recv if isinstance(t, StringType) else F.to_json(recv)
        out = F.get_json_object(src, path)
        # results may be JSON scalars/objects — lift to VARIANT so
        # structured matches keep their shape
        return F.coalesce(F.try_parse_json(out), out.cast("variant"))
    if node.name == "json_schema":
        import json as _json

        from bento_spark.operators.processors import json_schema_bad

        schema = _json.loads(str(lit_arg(0, "JSON schema string")))
        t = _type_of(env, recv)
        src = recv if isinstance(t, StringType) else F.to_json(recv)
        bad = F.coalesce(json_schema_bad(src, schema), F.lit(False))
        if not env.in_lambda:
            # schema failures are per-message ERRORS in the reference
            # (methods.md json_schema Error(...) example); ride the sink
            env.error_sink.append(F.when(bad, F.lit(
                "failed assignment (line 1): field "
                f"`{_node_src_b(node.recv)}`: schema match failed"
            )))
        return F.when(~bad, recv)
    if node.name in ("keys", "key_values", "without", "with", "merge"):
        from pyspark.sql import types as T

        t = _type_of(env, recv)
        if t is None:
            t = _ast_type(node.recv, env)
        if node.name == "merge":
            other = _arg(node.args[0], env)
            if not isinstance(other, Column):
                other = F.lit(other)
            ot = _type_of(env, other) or _ast_type(node.args[0], env)
            if isinstance(t, T.StructType) and isinstance(ot, T.StructType):
                return _struct_merge(recv, t, other, ot)
            from bento_spark.bloblang.stdlib import METHODS as _M

            _tier, fn = _M["merge"]
            return fn(recv, other)
        if isinstance(t, T.StructType):
            names = t.fieldNames()
            if node.name == "keys":
                return F.array(*[F.lit(n) for n in sorted(names)])
            if node.name == "key_values":
                # heterogeneous struct values lift to VARIANT so the
                # pairs keep their types (methods.md key_values: value 1
                # stays a number)
                return F.array(*[
                    F.struct(
                        F.lit(n).alias("key"),
                        _to_variant(recv[n], t[n].dataType).alias("value"),
                    )
                    for n in sorted(names)
                ])
            args = [str(_arg(a, env)) for a in node.args]
            return _with_without(recv, t, args, keep=node.name == "with")
        # map receivers use the registered map-based builders
        from bento_spark.bloblang.stdlib import METHODS as _M

        _tier, fn = _M[node.name]
        return fn(recv, *[_arg(a, env) for a in node.args])
    if node.name == "sum":
        # integer arrays sum as BIGINT, everything else as DOUBLE (the
        # reference preserves int arithmetic until overflow —
        # arithmetic.go:161)
        from pyspark.sql import types as T

        t = _type_of(env, recv)
        if isinstance(t, T.ArrayType) and isinstance(
            t.elementType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            return F.aggregate(
                recv, F.lit(0).cast("long"), lambda a, x: a + x
            )
        return F.aggregate(
            recv, F.lit(0.0), lambda a, x: a + x.cast("double")
        )
    if node.name == "catch":
        # dynamic-typed recovery: when the fallback's type differs from
        # the expression's, both sides lift to VARIANT (the engine's
        # dynamic type) so e.g. bool-or-"failed" fits one column
        from pyspark.sql import types as T

        if node.args and isinstance(node.args[0], A.Lambda):
            # catch(err -> ...) binds the actual per-message error text,
            # which only the interpreter's tree walk carries
            raise UnsupportedConstruct(
                "catch(err -> ...) needs the interpreter's error value"
            )
        fallback = _arg(node.args[0], env) if node.args else F.lit(None)
        if not isinstance(fallback, Column):
            fallback = F.lit(fallback)
        rt, ft = _type_of(env, recv), _type_of(env, fallback)
        if rt is not None and ft is not None and rt != ft:
            def to_var(c, t):
                if isinstance(t, (T.ArrayType, T.MapType, T.StructType)):
                    return F.parse_json(F.to_json(c))
                return c.cast("variant")

            return F.coalesce(to_var(recv, rt), to_var(fallback, ft))
        return F.coalesce(recv, fallback)
    if node.name == "from":
        idx = int(lit_arg(0, "batch index"))
        # negative indexes address from the END of the batch
        # (message.go Batch.Get: index = len + index), which is exactly
        # Spark element_at's negative-position semantics
        return F.element_at(_batch_list_env(recv, env), idx + 1 if idx >= 0 else idx)
    if node.name == "from_all":
        return _batch_list_env(recv, env)
    if node.name == "bloblang":
        src = str(lit_arg(0, "mapping string"))
        ast = parse_mapping(src)
        return _apply_stmts(recv, ast.statements, env, "bloblang() mapping")
    raise CompileError(f"unhandled env method {node.name}")  # pragma: no cover


def _compile_method(node: A.MethodCall, env: Env) -> Column:
    if node.name == "apply":
        if len(node.args) != 1 or not isinstance(node.args[0], A.Lit):
            raise CompileError("apply() takes a literal map name")
        return _apply_named_map(
            compile_node(node.recv, env), str(node.args[0].value), env
        )
    if node.name in _ENV_METHODS:
        return _compile_env_method(node, env)
    if node.name not in METHODS:
        raise CompileError(f"unknown method .{node.name}()")
    sink_mark = len(env.error_sink)
    if node.name in RAW_RECV_METHODS and isinstance(node.recv, A.Lit):
        recv = node.recv.value
    else:
        recv = compile_node(node.recv, env)
    if node.name in ("catch", "or"):
        # catch()/or() swallow per-message errors their receiver
        # registered (reference: the error is recovered, not raised)
        del env.error_sink[sink_mark:]
    if node.name in ("not_null", "not_empty") and not env.in_lambda:
        # error-capable methods: the reference RAISES an assignment
        # error; a Column can't, so the failure condition rides the
        # shared sink into the mapping's _error (testrunner's
        # Error(...) cases see it; catch() above removes it)
        from pyspark.sql import types as T

        src_txt = _node_src_b(node.recv)
        rt0 = _type_of(env, recv) if isinstance(recv, Column) else None
        if node.name == "not_null":
            cond = recv.isNull()
            kind = "value is null"
        elif node.name == "not_empty":
            if isinstance(rt0, (T.ArrayType, T.MapType)):
                cond = recv.isNull() | (F.size(recv) == 0)
                kind = "array value is empty"
            elif isinstance(rt0, T.StructType):
                # static schema: a zero-field struct IS the empty object
                cond = F.lit(len(rt0.fields) == 0) | recv.isNull()
                kind = "object value is empty"
            else:
                cond = recv.isNull() | (F.length(recv.cast("string")) == 0)
                kind = "string value is empty"
        env.error_sink.append(F.when(
            F.coalesce(cond, F.lit(True) if node.name == "not_null"
                       else F.lit(False)),
            F.lit(
                f"failed assignment (line 1): field `{src_txt}`: {kind}"
            ),
        ))
    if node.name == "type":
        # VARIANT receivers: typeof() can't see the contained value;
        # dispatch per-value on schema_of_variant (advice r8)
        from pyspark.sql.types import VariantType

        if isinstance(_type_of(env, recv), VariantType):
            from bento_spark.bloblang.stdlib import _bento_type_variant

            return _bento_type_variant(recv)
    if node.name == "length":
        # Bloblang length() is polymorphic (strings AND arrays/maps);
        # dispatch on the analyzed type, defaulting to string length;
        # VARIANT receivers dispatch per value
        from pyspark.sql.types import ArrayType, MapType, VariantType

        t = _type_of(env, recv)
        if isinstance(t, (ArrayType, MapType)):
            return F.size(recv)
        if isinstance(t, VariantType):
            from bento_spark.bloblang.stdlib import _bento_length_variant

            return _bento_length_variant(recv)
        return F.length(recv)
    if node.name == "contains":
        # polymorphic too: substring on strings, membership on arrays
        from pyspark.sql.types import ArrayType

        t = _type_of(env, recv)
        arg = _arg(node.args[0], env)
        if isinstance(t, ArrayType):
            from bento_spark.bloblang.stdlib import V

            return F.array_contains(recv, V(arg))
        return recv.contains(arg)
    if node.name == "slice":
        # polymorphic: element slice on arrays, char slice on strings
        from pyspark.sql.types import ArrayType

        t = _type_of(env, recv) or _ast_type(node.recv, env)
        if isinstance(t, ArrayType):
            from bento_spark.bloblang.stdlib import _arr_slice

            return _arr_slice(recv, *[_arg(a, env) for a in node.args])
    if node.name in ("string", "bytes"):
        # structured receivers serialize to canonical JSON text
        # (value/type_helpers.go IToString), not a struct cast
        from pyspark.sql import types as T

        t = _type_of(env, recv)
        if isinstance(t, (T.StructType, T.ArrayType, T.MapType)):
            out = F.to_json(recv)
            return out.cast("binary") if node.name == "bytes" else out
        if isinstance(t, T.VariantType):
            out = F.to_json(recv)
            # VARIANT holding a plain string to_jsons WITH quotes;
            # string() wants the raw text
            out = F.when(
                F.schema_of_variant(recv) == "STRING",
                recv.cast("string"),
            ).otherwise(out)
            return out.cast("binary") if node.name == "bytes" else out
    if node.name == "split":
        # array receivers split into sub-arrays around the delimiter
        # element (methods.md split on arrays)
        from pyspark.sql.types import ArrayType, VariantType

        t = _type_of(env, recv) or _ast_type(node.recv, env)
        if isinstance(t, VariantType) and node.args and not (
            isinstance(node.args[0], A.Lit)
            and isinstance(node.args[0].value, str)
        ):
            # VARIANT receiver with a non-string separator: only the
            # array form makes sense — materialize array<variant> (the
            # variantlift ingestion keeps mixed-type arrays VARIANT)
            recv = F.try_variant_get(recv, "$", "array<variant>")
            t = ArrayType(VariantType())
        if isinstance(t, ArrayType):
            import json as _json

            from pyspark.sql.types import MapType, StructType

            from bento_spark.bloblang.stdlib import V

            sep = _arg(node.args[0], env)
            # mixed-type (VARIANT) elements and object separators
            # compare by canonical JSON — a typed == would cast-error
            if isinstance(
                t.elementType, (VariantType, MapType, StructType)
            ) or isinstance(sep, (dict, list)):
                sep_j = (
                    F.to_json(sep) if isinstance(sep, Column)
                    else F.lit(_json.dumps(
                        sep, sort_keys=True, separators=(",", ":")
                    ))
                )

                def is_sep(x: Column) -> Column:
                    return F.to_json(x) == sep_j
            else:
                def is_sep(x: Column) -> Column:
                    return x == V(sep)
            n = F.size(recv)
            idxs = F.filter(
                F.sequence(F.lit(0), n),
                lambda i: (i == 0) | (i == n)
                | F.coalesce(is_sep(F.try_element_at(recv, i)), F.lit(False)),
            )
            return F.array_compact(F.zip_with(
                idxs,
                F.slice(idxs, 2, F.greatest(F.size(idxs) - 1, F.lit(0))),
                lambda a, b: F.filter(
                    F.slice(recv, a + 1, b - a),
                    lambda x: ~F.coalesce(is_sep(x), F.lit(False)),
                ),
            ))
    if node.name == "get" and node.args and not isinstance(
        node.args[0], A.Lit
    ):
        # dynamic path argument: map/variant element lookup per message
        from bento_spark.bloblang.stdlib import V

        key = _arg(node.args[0], env)
        return F.try_element_at(recv, V(key))
    _tier, fn = METHODS[node.name]
    elem_t = None
    from pyspark.sql import types as T

    rt = _type_of(env, recv)
    if rt is None:
        rt = _ast_type(node.recv, env)
    if isinstance(rt, T.ArrayType):
        elem_t = rt.elementType
    args = [
        _arg(a, env, recv_hint=node.name, elem_type=elem_t)
        for a in node.args
    ]
    kwargs = {}
    if any(n is not None for n in node.arg_names):
        # named-argument form (`hash(algorithm: "crc32", polynomial:
        # "Koopman")`): remap by the reference's ParamSpec order
        from bento_spark.bloblang.stdlib import METHOD_PARAM_NAMES

        sig = METHOD_PARAM_NAMES.get(node.name)
        if sig is None:
            raise CompileError(
                f"method .{node.name}() does not take named arguments"
            )
        pos: list = []
        named: dict = {}
        for a, n in zip(args, node.arg_names):
            if n is None:
                pos.append(a)
            elif n in sig:
                named[n] = a
            else:
                raise CompileError(
                    f"unknown parameter {n!r} for .{node.name}()"
                )
        # fill positionally then overlay names in signature order
        merged: list = list(pos)
        for pname in sig[len(pos):]:
            if pname in named:
                merged.append(named.pop(pname))
            elif named:
                # a later param was named while this one is absent:
                # pass the builder's own default via keyword instead
                break
        kwargs = {k: v for k, v in named.items()}
        args = merged
    from bento_spark.bloblang.stdlib import RECV_TYPE_AWARE

    if node.name in RECV_TYPE_AWARE:
        kwargs["recv_type"] = rt
    out = fn(recv, *args, **kwargs)
    if node.name == "map_each" and node.args and _conditional_element(
        node.args[0].body if isinstance(node.args[0], A.Lambda)
        else node.args[0]
    ):
        # deleted()/if-without-else in the element mapping: those
        # elements are OMITTED (Delete/Nothing in map_each —
        # methods_structured.go), i.e. filter-while-transforming
        out = F.array_compact(out)
    return out


def _arg(node: A.Node, env: Env, recv_hint: str | None = None,
         elem_type=None):
    """Method args: literals pass as Python values (some builders need
    static strings/ints), lambdas become Column->Column callables.
    ``elem_type`` is the receiver's array element type, registered as
    the lambda var's static type for struct-aware methods inside."""
    if recv_hint in (
        "map_each", "filter", "any", "all",
        "find_by", "find_all_by", "map_each_key", "sort_by",
    ) and not isinstance(node, (A.Lambda, A.Lit)):
        # bare expression argument: the element binds as `this`
        # (query_expression_parser.go context methods)
        body = node

        def hof1(a: Column) -> Column:
            return compile_node(
                body,
                env.child({"this": a}, in_lambda=True,
                          var_types={"this": elem_type}),
            )

        return hof1
    if recv_hint == "sort" and isinstance(node, A.Lambda) \
            and len(node.params) == 1:
        # sort comparator: the one param binds {left, right}
        # (methods_structured.go sort custom comparator)
        sbody, sname = node.body, node.params[0]

        def hof_cmp(left: Column, right: Column) -> Column:
            item = F.struct(left.alias("left"), right.alias("right"))
            return compile_node(
                sbody, env.child({sname: item}, in_lambda=True)
            )

        return hof_cmp
    if recv_hint == "fold" and isinstance(node, A.Lambda) \
            and len(node.params) == 1:
        # the reference's fold lambda takes ONE param bound to
        # {tally, value} (methods_structured.go fold examples:
        # `item -> item.tally + item.value`); aggregate() wants a
        # two-arg merge, so pack the pair into a struct
        fbody, pname = node.body, node.params[0]

        def hof2(a: Column, b: Column) -> Column:
            item = F.struct(a.alias("tally"), b.alias("value"))
            return compile_node(
                fbody, env.child({pname: item}, in_lambda=True)
            )

        return hof2
    if recv_hint == "fold" and not isinstance(node, (A.Lambda, A.Lit)):
        # fold's reducer may be a bare expression over the implicit
        # `tally`/`value` context (methods_structured.go fold docs)
        body = node

        def hof(a: Column, b: Column) -> Column:
            return compile_node(
                body, env.child({"tally": a, "value": b}, in_lambda=True)
            )

        return hof
    if isinstance(node, A.Lambda):
        # pyspark validates HOF signatures: positional params only
        if len(node.params) == 1:

            def hof(a: Column) -> Column:
                return compile_node(
                    node.body,
                    env.child({node.params[0]: a}, in_lambda=True,
                              var_types={node.params[0]: elem_type}),
                )

        elif len(node.params) == 2:

            def hof(a: Column, b: Column) -> Column:
                bound = dict(zip(node.params, (a, b)))
                return compile_node(node.body, env.child(bound, in_lambda=True))

        else:
            raise CompileError("lambdas support 1 or 2 parameters")
        return hof
    if isinstance(node, A.Lit):
        return node.value
    if isinstance(node, A.ArrayLit) and all(
        isinstance(el, A.Lit) for el in node.items
    ):
        # all-literal arrays pass as Python lists (builders like
        # replace_all_many need the static values)
        return [el.value for el in node.items]
    return compile_node(node, env)


#: assign-name prefix marking an ordered top-level field deletion
DELETE_PREFIX = "__delete_field__:"


def _meta_apply(meta: dict) -> Column:
    """Fold meta statements onto the _metadata map: wipe-all resets it,
    None values delete single keys, the rest overwrite."""
    from bento_spark.operators.envelope import META

    col = F.col(META)
    if "__wipe_all__" in meta:
        col = F.create_map().cast("map<string,string>")
        meta = {k: v for k, v in meta.items() if k != "__wipe_all__"}
    dels = [k for k, v in meta.items() if v is None]
    if dels:
        col = F.map_filter(col, lambda k, _v: ~k.isin(dels))
    pairs: list[Column] = []
    for k, v in meta.items():
        if v is not None:
            pairs += [F.lit(k), v.cast("string")]
    if pairs:
        from bento_spark.bloblang.stdlib import map_overwrite

        col = map_overwrite(col, F.create_map(*pairs))
    return col


@dataclass
class MappingPlan:
    """Parsed mapping; column compilation happens at apply() time so it
    can resolve against the target schema (missing-field -> NULL,
    type-dispatched methods)."""

    ast: A.MappingAST
    source: str
    overrides: dict | None = None  # zero-arg function substitutions

    def _compile(self, df: DataFrame | None):
        """_compile_statements with the counter() two-pass: when the
        source resolves counter() more than once per message (a named
        map applied repeatedly), pass 1 counts the resolutions and
        pass 2 re-compiles with per-resolution offsets so one message
        consumes k consecutive values — the reference's per-process
        counter order (doc-corpus counter#2/3)."""
        from bento_spark.bloblang.stdlib import COUNTER_CTX

        def run():
            return _compile_statements(
                self.ast, Env({}, df, functions=self.overrides or {})
            )

        if "counter(" not in self.source or "counter" in (
            self.overrides or {}
        ):
            return run()
        COUNTER_CTX.append({"mode": "count", "n": 0})
        try:
            out = run()
            k = COUNTER_CTX[-1]["n"]
        finally:
            COUNTER_CTX.pop()
        if k <= 1:
            return out  # single resolution: row_number is already exact
        COUNTER_CTX.append({"mode": "emit", "n": 0, "k": k})
        try:
            return run()
        finally:
            COUNTER_CTX.pop()

    def compile_for(self, df: DataFrame | None):
        """-> (assigns, meta, drop_when, cache_writes) compiled against
        df's schema."""
        assigns, meta, drop_when, cache_writes, _err, _nn = self._compile(df)
        return assigns, meta, drop_when, cache_writes

    def apply(self, df: DataFrame, new_document: bool = False) -> DataFrame:
        """Run the mapping: `mutation` semantics by default, `mapping`
        (new doc from only the assigned fields) with new_document."""
        from bento_spark.operators.envelope import META, ensure_envelope

        df = ensure_envelope(df)
        assigns, meta, drop_when, cache_writes, error_sets, nothing_names = (
            self._compile(df)
        )
        if error_sets:
            err = error_sets[0]
            for e in error_sets[1:]:
                err = F.coalesce(err, e)
            df = df.withColumn(
                "_error", F.coalesce(F.col("_error"), err)
            )
        if cache_writes:
            _run_cache_writes(df, cache_writes)
        drop_col = None
        if drop_when is not None:
            # evaluate the drop condition BEFORE projection but filter
            # AFTER assignments: batch-scoped expressions (from_all,
            # sum over the batch) in assignments must see every row —
            # the reference runs statements sequentially with the
            # delete usually last
            drop_col = "__drop__"
            df = df.withColumn(
                drop_col, F.coalesce(drop_when, F.lit(False))
            )
        if new_document:
            from bento_spark.bloblang.stdlib import NonConstantArg

            if assigns and all(
                n in nothing_names or n.startswith(DELETE_PREFIX)
                for n, _c in assigns
            ) and not any(n == "__root_this__" for n, _c in assigns):
                # EVERY assignment can yield Nothing: rows where none
                # executes keep the ORIGINAL document (executor.go —
                # an unassigned mapping passes the part through). That
                # is per-row schema choice, which a typed projection
                # cannot express — the interpreter handles it exactly.
                raise NonConstantArg(
                    "all assignments are Nothing-capable; per-row "
                    "passthrough needs the interpreter"
                )
            # `root = this` rebinds the document to a passthrough: keep
            # every data column, with LATER assignments overlaying it
            # (executor.go's root rebind) — earlier assigns are discarded
            # exactly as a later `root = this` discards them per message
            root_this_at = [i for i, (n, _c) in enumerate(assigns)
                            if n == "__root_this__"]
            if not assigns:
                # no root assignments (conditional-delete-only or
                # meta-only mapping): the document passes through
                assigns = [("__root_this__", F.lit(True))]
                root_this_at = [0]
            if root_this_at:
                overlay = assigns[root_this_at[-1] + 1 :]
                from bento_spark.operators.envelope import RESERVED

                out = df
                for n, c in overlay:
                    if n.startswith(DELETE_PREFIX):
                        out = out.drop(n[len(DELETE_PREFIX):])
                    else:
                        out = out.withColumn(n, c)
                if drop_col is not None:
                    out = out.filter(~F.col(drop_col))
                keep = [c for c in out.columns
                        if c not in RESERVED
                        and c not in ("__root_this__", "__drop__")]
                out = out.select(*keep, F.col(META), F.col("_error"))
                if meta:
                    out = out.withColumn(META, _meta_apply(meta))
                return out
            # materialize assignments BEFORE the drop filter so
            # batch-scoped expressions saw every row, then project
            out = df
            kept: dict[str, bool] = {}
            for n, c in assigns:
                if n.startswith(DELETE_PREFIX):
                    kept.pop(n[len(DELETE_PREFIX):], None)
                else:
                    out = out.withColumn(n, c)
                    kept[n] = True
            if drop_col is not None:
                out = out.filter(~F.col(drop_col))
            sel = [F.col(n) for n in kept]
            if nothing_names:
                # rider for the serializer: null values of these fields
                # are Nothing (conditionally absent), not data
                sel.append(
                    F.array(*[F.lit(n) for n in sorted(nothing_names)])
                    .alias("__nothing")
                )
            out = out.select(*sel, F.col(META), F.col("_error"))
        else:
            out = df
            for n, c in assigns:
                if n.startswith(DELETE_PREFIX):
                    out = out.drop(n[len(DELETE_PREFIX):])
                else:
                    out = out.withColumn(n, c)
            if drop_col is not None:
                out = out.filter(~F.col(drop_col)).drop(drop_col)
        if meta:
            out = out.withColumn(META, _meta_apply(meta))
        return out


MAX_CACHE_KEYS = 1_000_000


def _run_cache_writes(
    df: DataFrame,
    writes: list[tuple[str, str, Column, Column | None]],
    max_keys: int = MAX_CACHE_KEYS,
) -> None:
    """Apply statement-position cache writes (bloblang_cache.go) to the
    named cache resources. Batch semantics: each write statement is one
    full pass in batch order (monotonically_increasing_id is globally
    ordered across partitions): set = last-writer-wins per key, add =
    first-writer-wins, delete = key seen at all.

    Those are per-key reductions, so the winner per key is selected
    DISTRIBUTED (row_number over a key-partitioned window) and only the
    ~one-row-per-distinct-key survivors reach the driver — the collect
    is bounded by the cache's working set, not the stream size (a 100 TB
    scan with a 10k-key cache collects 10k rows). The ``max_keys`` cap
    is enforced, mirroring dedup.embedding_cosine_pairs: overflow means
    the "cache" is really a keyed dataset — materialize it with
    operators/state.upsert_parquet and read it back as a table instead.
    """
    from pyspark.sql import Window

    from bento_spark.bloblang.stdlib_ext import register_cache

    base = df.select(
        F.monotonically_increasing_id().alias("_i"),
        *[
            c
            for n, (_op, _res, key, val) in enumerate(writes)
            for c in (
                key.cast("string").alias(f"_k{n}"),
                (val if val is not None else F.lit(None)).cast("string").alias(f"_v{n}"),
            )
        ],
    )
    for n, (op, res, _key, _val) in enumerate(writes):
        kv = base.select(
            F.col(f"_k{n}").alias("k"), F.col(f"_v{n}").alias("v"), "_i"
        ).filter(F.col("k").isNotNull())
        order = F.asc("_i") if op == "cache_add" else F.desc("_i")
        w = Window.partitionBy("k").orderBy(order)
        winners = (
            kv.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("k", "v")
        )
        rows = winners.limit(max_keys + 1).collect()
        if len(rows) > max_keys:
            raise ValueError(
                f"cache write '{op}' to resource '{res}' touches more than "
                f"max_keys={max_keys} distinct keys; that is a keyed dataset, "
                "not lookaside cache state. Materialize it with "
                "bento_spark.operators.state.upsert_parquet and join/read it "
                "as a table, or raise max_keys if the driver can hold it."
            )
        snap = register_cache(res)
        for r in rows:
            if op == "cache_set":
                snap[r["k"]] = r["v"]
            elif op == "cache_add":
                snap.setdefault(r["k"], r["v"])
            else:
                snap.pop(r["k"], None)


def compile_expr(src: str, env: dict[str, Column] | None = None, df: DataFrame | None = None) -> Column:
    """Compile a Bloblang expression to a Column."""
    return compile_node(parse_expr(src), Env(env or {}, df))


def compile_mapping(src: str, overrides: dict | None = None) -> MappingPlan:
    """Parse a Bloblang mapping (sequence of root/meta/let statements);
    compilation to Columns is deferred to apply()/compile_for(df).
    ``overrides`` substitutes zero-arg functions with fixed Columns
    (e.g. the generate input's deterministic ``counter()``).

    A source that is a bare EXPRESSION (`{"id": this.doc.id}` — the
    request_map shorthand several reference docs use) parses as
    `root = <expr>`."""
    from bento_spark.bloblang.parser import ParseError

    try:
        return MappingPlan(parse_mapping(src), src, overrides)
    except ParseError:
        return MappingPlan(
            parse_mapping("root = " + src), src, overrides
        )


def _serialize_root(col: Column, env: Env) -> Column:
    """Root-scalar serialization: strings pass through, everything else
    becomes its JSON text (the reference re-serializes a structured
    root to bytes when content is read — data.go:32-37)."""
    dt = _type_of(env, col)
    from pyspark.sql import types as T

    if dt is None or isinstance(dt, T.StringType):
        return col
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return F.to_json(col)
    if isinstance(dt, T.BooleanType):
        return F.when(col, F.lit("true")).otherwise(F.lit("false"))
    return col.cast("string")


def _compile_statements(ast: A.MappingAST, env: Env):
    """Statement ordering follows executor.go:42-65: later statements see
    earlier assignments (we substitute the compiled expression — later
    references to an assigned field reuse its Column tree; Catalyst
    dedups the shared subtrees).
    """
    assigns: list[tuple[str, Column]] = []
    assigned: dict[str, Column] = {}
    meta: dict[str, Column] = {}
    drop_when: Column | None = None
    cache_writes: list[tuple[str, str, Column, Column | None]] = []
    error_sets: list[Column] = []  # per-row mapping failures (throw)
    nothing_names: set[str] = set()  # Nothing-capable assigned fields
    flat_stmts = []
    for stmt in ast.statements:
        if isinstance(stmt, A.StmtGroup):
            flat_stmts.extend(stmt.statements)
        else:
            flat_stmts.append(stmt)
    for stmt in flat_stmts:
        if isinstance(stmt, A.MapDef):
            env.maps[stmt.name] = stmt.statements
            continue
        if isinstance(stmt, A.LetAssign):
            if isinstance(stmt.expr, A.FuncCall) and stmt.expr.name in (
                "cache_set",
                "cache_add",
                "cache_delete",
            ):
                # statement-position cache write (bloblang_cache.go):
                # collected here, applied through the cache resource
                # after the batch materializes (MappingPlan.apply)
                fc = stmt.expr
                if any(n is not None for n in fc.arg_names):
                    # named form: cache_set(resource:, key:, value:)
                    from bento_spark.bloblang.stdlib import (
                        FUNCTION_PARAM_NAMES,
                    )

                    sig = FUNCTION_PARAM_NAMES[fc.name]
                    by = {}
                    pos = 0
                    for a, n in zip(fc.args, fc.arg_names):
                        by[n if n is not None else sig[pos]] = a
                        if n is None:
                            pos += 1
                    ordered = [by[p] for p in sig if p in by]
                    fc = A.FuncCall(fc.name, ordered,
                                    [None] * len(ordered))
                if not fc.args or not isinstance(fc.args[0], A.Lit):
                    raise CompileError(f"{fc.name}() needs a literal resource name")
                need = 2 if fc.name == "cache_delete" else 3
                if len(fc.args) != need:
                    raise CompileError(f"{fc.name}() takes {need} arguments")
                e2 = _with_assigned(env, assigned)
                key = compile_node(fc.args[1], e2)
                val = (
                    compile_node(fc.args[2], e2)
                    if fc.name != "cache_delete"
                    else None
                )
                cache_writes.append((fc.name, str(fc.args[0].value), key, val))
                continue
            col = compile_node(stmt.expr, env)
            env = env.child(
                {stmt.name: col}, var_types={stmt.name: _type_of(env, col)}
            )
            continue
        if isinstance(stmt, A.MetaAssign):
            if _is_deleted(stmt.expr):
                if stmt.key is None:
                    meta.clear()
                    meta["__wipe_all__"] = F.lit(True)
                else:
                    meta[stmt.key] = None  # single-key delete marker
                continue
            if stmt.key is None:
                raise CompileError(
                    "bare `meta = <expr>` only supports deleted()"
                )
            v = compile_node(stmt.expr, _with_assigned(env, assigned))
            t = _type_of(env, v)
            from pyspark.sql import types as T

            if isinstance(t, (T.ArrayType, T.MapType, T.StructType,
                              T.VariantType)):
                v = F.to_json(v)
            meta[stmt.key] = v
            continue
        if isinstance(stmt, A.Assign):
            e2 = _with_assigned(env, assigned)
            if _is_deleted(stmt.expr):
                if stmt.target == ():
                    raise CompileError(
                        "unconditional root = deleted() drops everything; "
                        "use a conditional"
                    )
                if len(stmt.target) == 1:
                    # top-level field deletion (`root.tmp = deleted()`):
                    # an ordered marker — apply() drops the column at
                    # this point in the sequence, so a later assignment
                    # of the same name recreates it (executor order)
                    assigns.append(
                        (DELETE_PREFIX + stmt.target[0], F.lit(True))
                    )
                    continue
                # nested deletion `root.a.b = deleted()` — the
                # redaction idiom (mapping/assignment.go:135,
                # about.md:86-90): rebuild the head field without the
                # path. Structs use dropFields; single-level map keys
                # use map_filter; anything else routes to the
                # interpreter (its Delete sentinel handles all shapes).
                head, *rest = stmt.target
                from pyspark.sql import types as T

                if head in assigned:
                    base = assigned[head]
                elif env.df is not None and head in env.df.columns:
                    base = F.col(head)
                else:
                    continue  # deleting a missing path is a no-op
                bt = _type_of(env, base)
                if isinstance(bt, T.StructType):
                    path = ".".join(
                        f"`{p}`" if "." in p else p for p in rest
                    )
                    col = base.dropFields(path)
                elif isinstance(bt, T.MapType) and len(rest) == 1:
                    key = rest[0]
                    col = F.map_filter(base, lambda k, _v: k != F.lit(key))
                else:
                    raise UnsupportedConstruct(
                        f"nested deletion through a {bt} value needs "
                        "the interpreter"
                    )
                _upsert_assign(assigns, head, col)
                assigned[head] = col
                continue
            if stmt.target == ():
                if (isinstance(stmt.expr, A.FuncCall)
                        and stmt.expr.name == "throw"):
                    msg = compile_node(stmt.expr.args[0], e2)
                    error_sets.append(F.concat(
                        F.lit("failed assignment (line 1): "),
                        msg.cast("string"),
                    ))
                    assigns.append(("__root_this__", F.lit(True)))
                    continue
                dw, kept = _root_delete_condition(stmt.expr, e2)
                if dw is not None:
                    drop_when = dw if drop_when is None else (drop_when | dw)
                    # The non-deleted branch is the root value for surviving
                    # rows (rows failing it are dropped, so assigning
                    # unconditionally is safe). Silently discarding it was
                    # ADVICE r1 bug #3.
                    if kept is not None and not isinstance(kept, A.This):
                        if isinstance(kept, A.ObjectLit):
                            for k, v in kept.entries:
                                if not isinstance(k, A.Lit) or not isinstance(
                                    k.value, str
                                ):
                                    raise CompileError(
                                        "root object keys must be strings"
                                    )
                            for k, v in kept.entries:
                                col = compile_node(v, e2)
                                assigns.append((k.value, col))
                                assigned[k.value] = col
                        else:
                            # arbitrary kept expression -> scalar root
                            col = compile_node(kept, e2)
                            _upsert_assign(
                                assigns, "content", _serialize_root(col, e2)
                            )
                            assigned["content"] = assigns[-1][1]
                    continue
                if isinstance(stmt.expr, A.ObjectLit):
                    # root = {...}: each entry becomes a field assignment
                    for k, v in stmt.expr.entries:
                        if not isinstance(k, A.Lit) or not isinstance(k.value, str):
                            raise CompileError("root object keys must be strings")
                        col = compile_node(v, e2)
                        if _conditional_element(v):
                            nothing_names.add(k.value)
                        assigns.append((k.value, col))
                        assigned[k.value] = col
                    continue
                if isinstance(stmt.expr, A.This):
                    # root = this: the current document passes through;
                    # later assignments overlay it (mapping semantics
                    # become mutation-shaped — executor.go root rebind)
                    assigns.append(("__root_this__", F.lit(True)))
                    continue
                # root = <expr>
                col = compile_node(stmt.expr, e2)
                t = _type_of(e2, col)
                from pyspark.sql import types as T

                if isinstance(t, T.StructType):
                    # OBJECT root (e.g. `root = this.obj`): the object's
                    # fields become the document's fields — earlier
                    # assigns are discarded (executor.go root rebind)
                    # and later `root.z = ...` statements overlay them.
                    # NOT the scalar serialization path; divergence
                    # caught by test_bloblang_differential curated #6.
                    assigns.clear()
                    assigned.clear()
                    for f in t.fields:
                        assigns.append((f.name, col[f.name]))
                        assigned[f.name] = col[f.name]
                    continue
                # the document becomes a SCALAR/array — serialized into
                # the content column (the reference's raw-bytes root
                # form; message_expansion/csv fixtures)
                assigns.append(("content", _serialize_root(col, e2)))
                assigned["content"] = assigns[-1][1]
                continue
            if len(stmt.target) > 1:
                # nested target (`root.doc.count = X` / naked
                # `doc.count = X`): rebuild the top-level field with
                # withField chains (assignment.go JSON-path set). The
                # base resolves to the prior assignment of that field,
                # else the existing column, else a fresh struct.
                head, *rest = stmt.target
                if head in assigned:
                    base = assigned[head]
                elif env.df is not None and head in env.df.columns:
                    base = F.col(head)
                else:
                    base = None
                val = compile_node(stmt.expr, e2)
                if base is None:
                    # build a nested struct from scratch
                    for part in reversed(rest):
                        val = F.struct(val.alias(part))
                    col = val
                else:
                    path = ".".join(
                        f"`{p}`" if "." in p else p for p in rest
                    )
                    col = base.withField(path, val)
                _upsert_assign(assigns, head, col)
                assigned[head] = col
                continue
            name = stmt.target[0]
            col = compile_node(stmt.expr, e2)
            if _conditional_element(stmt.expr):
                if name in assigned:
                    # Nothing SKIPS the assignment — the prior value
                    # stays (executor.go; the statement-if desugar and
                    # `root.x = if cond { y }` re-assignments rely on
                    # this). Explicit-else assignments replace as before.
                    col = F.coalesce(col, assigned[name])
                else:
                    nothing_names.add(name)
            _upsert_assign(assigns, name, col)
            assigned[name] = col
            continue
        raise CompileError(f"unsupported statement {stmt!r}")
    # error-capable methods (not_null/not_empty/json_schema) registered
    # per-message failure conditions during expression compilation
    error_sets.extend(env.error_sink)
    return assigns, meta, drop_when, cache_writes, error_sets, nothing_names


def _upsert_assign(assigns: list, name: str, col: Column) -> None:
    """Re-assigning a field replaces its slot (keeping first-assignment
    ORDER, executor.go statement semantics) instead of duplicating the
    output column."""
    for i, (n, _c) in enumerate(assigns):
        if n == name:
            assigns[i] = (name, col)
            return
    assigns.append((name, col))


def _with_assigned(env: Env, assigned: dict[str, Column]) -> Env:
    return env.child(assigned) if assigned else env


def _is_deleted(node: A.Node) -> bool:
    return isinstance(node, A.FuncCall) and node.name == "deleted"


def _root_delete_condition(
    node: A.Node, env: Env
) -> tuple[Column | None, A.Node | None]:
    """`root = if <cond> { deleted() }` -> (drop condition, kept-branch node)
    (SURVEY §1.3: Delete at root = df.filter). The kept branch (the one
    that is NOT deleted()) is returned so the caller can apply it as the
    root value for surviving rows."""
    if isinstance(node, A.If) and _is_deleted(node.then):
        return compile_node(node.cond, env), node.orelse
    if isinstance(node, A.If) and node.orelse is not None and _is_deleted(node.orelse):
        return ~compile_node(node.cond, env), node.then
    if (
        isinstance(node, A.MethodCall)
        and node.name == "catch"
        and len(node.args) == 1
        and _is_deleted(node.args[0])
    ):
        # `root = <expr>.catch(deleted())`: the message is deleted
        # exactly when <expr> ERRORS (methods.md catch — the error is
        # recovered into a deletion). Trial-compile the receiver to
        # collect its error conditions from the shared sink.
        mark = len(env.error_sink)
        compile_node(node.recv, env)
        errs = env.error_sink[mark:]
        del env.error_sink[mark:]
        cond = None
        for e in errs:
            c = e.isNotNull()
            cond = c if cond is None else (cond | c)
        if cond is None:
            return None, None  # receiver cannot error: not a delete form
        return cond, node.recv
    if isinstance(node, A.Match) and node.subject is None:
        del_conds = [
            compile_node(c, env)
            for c, v in node.cases
            if c is not None and _is_deleted(v)
        ]
        default_deleted = any(
            c is None and _is_deleted(v) for c, v in node.cases
        )
        if del_conds or default_deleted:
            kept_cases = [
                (c, v) for c, v in node.cases if not _is_deleted(v)
            ]
            dw = None
            for c in del_conds:
                cc = F.coalesce(c, F.lit(False))
                dw = cc if dw is None else (dw | cc)
            if default_deleted:
                # default => deleted(): drop unless a kept case matches
                keep = None
                for c, v in kept_cases:
                    if c is None:
                        continue
                    cc = F.coalesce(compile_node(c, env), F.lit(False))
                    keep = cc if keep is None else (keep | cc)
                nd = ~keep if keep is not None else F.lit(True)
                dw = nd if dw is None else (dw | nd)
            kept: A.Node | None = None
            if kept_cases:
                kept = (
                    kept_cases[0][1]
                    if len(kept_cases) == 1 and kept_cases[0][0] is None
                    else A.Match(None, kept_cases)
                )
            return dw, kept
    return None, None
