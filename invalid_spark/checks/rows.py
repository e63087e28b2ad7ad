"""Row-level checks: the rule tree compiled to ONE Catalyst projection.

This is the Spark-first re-expression of the reference's recursive
zip-walk (``doValidate``, reference rule.go:143-329). Instead of
walking one document tree in Go, we compile the whole rule tree into
a single ``select`` over the table: every (column, rule) pair becomes
a ``CASE WHEN`` producing a violation struct or NULL, the structs are
concatenated into an array, nulls filtered, and the array exploded
into violation rows. The entire evaluation is JVM-side whole-stage
codegen — no Python in the hot path.

Semantics parity with the reference walk:

- checks are evaluated in rule-document order (rule.go:152, ruleList
  order = document order);
- a missing REQUIRED key appends one ``keyMissing`` and aborts the
  rest of the walk (rule.go:159-165 context cancel). Columnar analog:
  a per-row ``alive`` predicate chains the checks, so a row stops
  accumulating violations after its first missing required value;
  a column absent from the table schema is a *schema-level*
  keyMissing that fail-fasts compilation itself;
- absent + optional → subtree silently skipped (rule.go:166-167);
- data columns not mentioned by rules are ignored (iteration is over
  rules, not data — rule.go:152-157);
- type checks accumulate (no abort) and do not suppress the other
  checks on the same field (rule.go:196-240: StrRule runs length /
  regex / of even when the tag mismatched);
- string length is measured in BYTES (Go ``len``) — ``octet_length``;
- regex is an unanchored search: ``rlike`` (same semantics as Go
  ``regexp.Match``; RE2 vs Java dialect differences are documented
  per rule, the DSL compiles the pattern at load time for fail-fast);
- ``$of`` membership compares string renderings (Go ``%v`` vs raw
  spelling, rule.go:230-240).

Two typing modes per column:

- **static** (default): the table schema is authoritative; type
  mismatches are schema-level (caught at compile, zero per-row cost);
- **dynamic** (``$dynamic: true``): the column holds stringly scalars
  and is typed by YAML core-schema spelling per row — the exact
  reference semantics, vectorized via the anchored-regex CASE chain
  in :mod:`invalid_spark.yamlmeta` (no UDF).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field, fields, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from invalid_spark import model, yamlmeta
from invalid_spark.checks.anomaly import ANOMALY_METRICS
from invalid_spark.checks.stats import ASSERT_STATS, NUMERIC_METRICS
from invalid_spark.dsl import Rule, RuleSet
from invalid_spark.model import ErrorType

# ---------------------------------------------------------------------------
# schema helpers


def _field_type(schema: T.StructType, path: str):
    """Data type at dotted ``path``, or None if absent."""
    cur: T.DataType = schema
    for part in path.split("."):
        if not isinstance(cur, T.StructType):
            return None
        f = next((f for f in cur.fields if f.name == part), None)
        if f is None:
            return None
        cur = f.dataType
    return cur


_STATIC_OK = {
    "$str": (T.StringType,),
    "$int": (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    "$float": (T.FloatType, T.DoubleType, T.DecimalType),
    "$bool": (T.BooleanType,),
    "$obj": (T.StructType, T.MapType),
    "$arr": (T.ArrayType,),
    "$null": (),  # $null has no static carrier; checked per-row (isNull)
    "$seq": (T.ArrayType,),  # heterogeneous sequence: any element type
    "$bin": (T.BinaryType,),  # engine extension (dsl.EXT_TYPES)
}


def _static_type_ok(rule_type: str, dt: T.DataType) -> bool:
    if rule_type in ("$null", "$any"):
        return True
    return isinstance(dt, _STATIC_OK.get(rule_type, ()))


def _require_numeric(what: str, metric: str, path: str, dt: T.DataType) -> None:
    """A metric that reads a column's values as numbers, on a
    string/date/timestamp column, yields NULL or a string order: a RULE
    error, so it surfaces at compile time (reference NewRule parity),
    not as a fake data failure."""
    if metric in NUMERIC_METRICS and not isinstance(dt, T.NumericType):
        raise ValueError(
            f"{what} [{metric}] on column [{path}] requires a numeric "
            f"column, got {dt.simpleString()}"
        )


def _null_struct() -> Column:
    return F.lit(None).cast(model.CHECK_STRUCT)


def _mk_struct(column: str, rule_id: str, etype: str, message, observed) -> Column:
    message = F.lit(message) if isinstance(message, str) else message
    observed = (
        F.lit(observed) if isinstance(observed, (str, type(None))) else observed
    )
    return F.struct(
        F.lit(column).alias("column"),
        F.lit(rule_id).alias("rule_id"),
        F.lit(etype).alias("error_type"),
        message.cast("string").alias("message"),
        observed.cast("string").alias("observed"),
    )


# ---------------------------------------------------------------------------
# plan


@dataclass
class RowCheckPlan:
    """Output of :func:`compile_row_checks`.

    ``checks`` holds one CASE-struct Column per scalar check (NULL =
    pass); ``array_checks`` holds whole array<struct> Columns from
    ``$arr`` element rules. They fuse into ONE ``array(...)``
    expression (exploded raw, NULLs filtered after the explode) —
    deliberately the shape Catalyst codegens best: a flat array of CASE structs evaluates
    ~10x faster than per-check single-element arrays glued with
    ``concat`` and filtered through a higher-order lambda (measured
    on sf0.1 lineitem: 6s → 0.6s for 13 checks x 600k rows)."""

    checks: list[Column] = dc_field(default_factory=list)  # struct|NULL per check
    array_checks: list[Column] = dc_field(default_factory=list)  # array<struct>
    schema_violations: list[dict] = dc_field(default_factory=list)
    fail_fast: bool = False
    # table-scale directives collected for the other stages
    unique_cols: list[str] = dc_field(default_factory=list)
    unique_composite: list[tuple[str, list[str]]] = dc_field(default_factory=list)
    ref_specs: list[tuple[str, dict]] = dc_field(default_factory=list)
    stats_specs: list[tuple[str, list[str]]] = dc_field(default_factory=list)
    drift_specs: list[tuple[str, dict]] = dc_field(default_factory=list)
    assert_specs: list[tuple[str, dict]] = dc_field(default_factory=list)
    anomaly_specs: list[tuple[str, dict]] = dc_field(default_factory=list)
    dist_specs: list[tuple[str, dict]] = dc_field(default_factory=list)
    dupspan_specs: list[tuple[str, dict]] = dc_field(default_factory=list)
    expr_specs: list[tuple[str, str]] = dc_field(default_factory=list)
    when_specs: list[tuple[str, str]] = dc_field(default_factory=list)
    pixel_specs: list[tuple[str, dict]] = dc_field(default_factory=list)
    caption_specs: list[tuple[str, dict]] = dc_field(default_factory=list)
    vector_specs: list[tuple[str, dict]] = dc_field(default_factory=list)
    align_specs: list[tuple[str, dict]] = dc_field(default_factory=list)
    fd_specs: list[tuple[str, dict]] = dc_field(default_factory=list)
    monotonic_specs: list[tuple[str, dict]] = dc_field(default_factory=list)
    reconcile_specs: list[tuple[str, dict]] = dc_field(default_factory=list)

    def raw_violations_array(self) -> Column:
        """Fixed-length array of CASE structs, NULL element = pass.
        The hot path explodes this RAW and filters nulls post-explode:
        both Generate and Filter codegen, whereas any null-stripping
        HOF on the array (``array_compact`` desugars to a lambda
        ``filter``) knocks the projection off codegen (~2x slower,
        measured sf0.1 lineitem)."""
        parts = []
        if self.checks:
            parts.append(F.array(*self.checks))
        parts.extend(self.array_checks)
        if not parts:
            return F.array().cast(T.ArrayType(model.CHECK_STRUCT))
        return F.concat(*parts) if len(parts) > 1 else parts[0]


class _Compiler:
    def __init__(self, schema: T.StructType):
        self.schema = schema
        self.plan = RowCheckPlan()
        # per-row fail-fast chain (reference context-cancel analog)
        self.alive: Column = F.lit(True)

    # -- emit helpers ------------------------------------------------------

    def _emit(self, cond: Column, struct: Column) -> None:
        self.plan.checks.append(F.when(cond, struct))

    def _emit_schema(self, path: str, rule_id: str, etype: str, msg: str) -> None:
        self.plan.schema_violations.append(
            {
                "row_key": None,
                "column": path,
                "rule_id": rule_id,
                "error_type": etype,
                "message": msg,
                "observed": None,
            }
        )

    # -- $when row scoping --------------------------------------------------

    _TABLE_SCOPE_ATTRS = (
        ("unique", "$unique"), ("ref", "$ref"), ("stats", "$stats"),
        ("drift", "$drift"), ("pixel", "$pixel"),
        ("caption_eq", "$caption-eq"), ("vector", "$vector"),
        ("assert_", "$assert"), ("anomaly", "$anomaly"), ("fd", "$fd"),
        ("monotonic", "$monotonic"), ("reconcile", "$reconcile"),
    )

    def _assert_row_scope(self, rule, path: str) -> None:
        """$when gates per-ROW checks; a table-level directive under a
        $when'd rule would silently ignore the scope — a RULE error,
        surfaced at compile time (reference NewRule parity)."""
        for attr, dname in self._TABLE_SCOPE_ATTRS:
            v = getattr(rule, attr)
            if v is not None and v is not False and v != []:
                raise ValueError(
                    f"{dname} on [{path}] cannot be combined with "
                    "$when: table-level directives aggregate over the "
                    "whole table and have no row scope; filter the "
                    "DataFrame instead"
                )
        for ch in rule.children:
            self._assert_row_scope(ch, f"{path}.{ch.key}")

    def _compile_when_scoped(self, child, path: str, prefix: str) -> None:
        """Compile one ``$when``-scoped rule subtree: walk it exactly
        as usual (same paths, same messages), then wrap every row
        check it appended in ``F.when(pred, ...)`` — out-of-scope rows
        (predicate FALSE or NULL, the deequ ``.where()`` convention)
        emit nothing. The predicate rides the same codegen projection:
        scoping costs zero extra scans and no new plan nodes beyond
        the conditional itself.

        Fail-fast parity: a required-key miss INSIDE the scope kills
        the row's later checks only where the scope applies —
        ``alive`` is restored for out-of-scope rows."""
        sql = child.when.get("sql")
        if not sql or not isinstance(sql, str):
            raise ValueError(
                f"$when on [{path}] needs sql: <boolean expression> "
                "(e.g. sql: \"source = 'src1'\")"
            )
        self._assert_row_scope(child, path)
        self.plan.when_specs.append((path, sql))
        pred = F.coalesce(F.expr(sql), F.lit(False))
        start = len(self.plan.checks)
        start_arr = len(self.plan.array_checks)
        saved_alive = self.alive
        from invalid_spark.dsl import Rule as _Rule

        shell = _Rule(key="__when__", rule_type="$obj")
        saved_when = child.when
        child.when = None
        shell.children = [child]
        try:
            self.walk(shell, prefix)
        finally:
            child.when = saved_when
        for i in range(start, len(self.plan.checks)):
            self.plan.checks[i] = F.when(pred, self.plan.checks[i])
        for i in range(start_arr, len(self.plan.array_checks)):
            # empty TYPED array, never NULL — a NULL side in the final
            # concat would swallow every other rule's violations
            self.plan.array_checks[i] = F.when(
                pred, self.plan.array_checks[i]
            ).otherwise(F.array().cast(T.ArrayType(model.CHECK_STRUCT)))
        if self.alive is not saved_alive:  # subtree had a fail-fast gate
            self.alive = F.when(pred, self.alive).otherwise(saved_alive)

    # -- scalar checks on an arbitrary expression --------------------------

    def _scalar_checks(
        self,
        expr: Column,
        rule: Rule,
        path: str,
        key: str,
        gate: Column,
        dynamic: bool,
        skip_type: bool = False,
    ) -> None:
        """Length / regex / of (+ dynamic type) checks for one scalar
        (reference rule.go:196-324, one branch per scalar kind)."""
        rule_id = path
        sval = expr.cast("string")

        if dynamic and not skip_type and rule.rule_type == "$any":
            pass  # $any: every inferred type is acceptable
        elif dynamic and not skip_type:
            want = yamlmeta.TYPE_BY_TAG[yamlmeta.TAG_BY_TYPE[rule.rule_type]]
            cond = gate & (yamlmeta.infer_type_col(sval) != F.lit(want))
            self._emit(
                cond,
                _mk_struct(
                    path,
                    rule_id,
                    ErrorType.TYPE_MISMATCH,
                    model.type_mismatch_msg(key, rule.rule_type),
                    sval,
                ),
            )
        elif rule.rule_type == "$null" and not skip_type:
            # static mode: $null expects SQL NULL per row
            cond = gate & expr.isNotNull()
            self._emit(
                cond,
                _mk_struct(
                    path,
                    rule_id,
                    ErrorType.TYPE_MISMATCH,
                    model.type_mismatch_msg(key, "$null"),
                    sval,
                ),
            )

        # $length — byte semantics (Go len); min and max are naturally
        # mutually exclusive per value, matching the reference's else-if
        # (rule.go:204-216); a 0 bound disables that side.
        if rule.length_min or rule.length_max:
            blen = F.octet_length(sval)
            if rule.length_min:
                self._emit(
                    gate & (blen < F.lit(rule.length_min)),
                    _mk_struct(
                        path,
                        rule_id,
                        ErrorType.STR_LENGTH_MISMATCH,
                        model.str_length_min_msg(key, rule.length_min),
                        sval,
                    ),
                )
            if rule.length_max:
                self._emit(
                    gate & (blen > F.lit(rule.length_max)),
                    _mk_struct(
                        path,
                        rule_id,
                        ErrorType.STR_LENGTH_MISMATCH,
                        model.str_length_max_msg(key, rule.length_max),
                        sval,
                    ),
                )

        if rule.reg is not None:
            self._emit(
                gate & ~sval.rlike(rule.reg),
                _mk_struct(
                    path,
                    rule_id,
                    ErrorType.REGX_MISMATCH,
                    model.regx_msg(key, rule.reg),
                    sval,
                ),
            )

        if rule.format_ is not None:
            # $format: named whole-value pattern (anchored, RE2-safe —
            # dsl.FORMAT_PATTERNS); sugar that rides the same
            # projection as $reg but reports its own error type
            from invalid_spark.dsl import FORMAT_PATTERNS

            self._emit(
                gate & ~sval.rlike(FORMAT_PATTERNS[rule.format_]),
                _mk_struct(
                    path,
                    rule_id,
                    ErrorType.FORMAT_MISMATCH,
                    model.format_msg(key, rule.format_),
                    sval,
                ),
            )

        if rule.of:
            self._emit(
                gate & ~sval.isin([str(v) for v in rule.of]),
                _mk_struct(
                    path,
                    rule_id,
                    ErrorType.OF_MISMATCH,
                    model.of_msg(key, rule.of),
                    sval,
                ),
            )

        if rule.range is not None:
            lo = rule.range.get("$min")
            hi = rule.range.get("$max")
            cond = F.lit(False)
            if lo is not None:
                cond = cond | (expr < F.lit(lo))
            if hi is not None:
                cond = cond | (expr > F.lit(hi))
            msg = f"value of {key} must be in range [{lo}, {hi}]"
            self._emit(
                gate & cond,
                _mk_struct(path, rule_id, ErrorType.RANGE_MISMATCH, msg, sval),
            )

        if rule.pii is not None:
            # $pii: {kinds: [email, ipv4, ssn, phone], max: 0} — the
            # PII scrub gate as a first-class rule: the match counts
            # evaluate inside this same codegen projection (size of
            # regexp_extract_all per kind, RE2-safe shared patterns),
            # so the check costs zero extra scans. `observed` is the
            # total match count (the value itself may be a document).
            from invalid_spark.pipeline.text import PII_PATTERNS

            kinds = rule.pii.get("kinds") or list(PII_PATTERNS)
            unknown = [k for k in kinds if k not in PII_PATTERNS]
            if unknown:
                raise ValueError(
                    f"$pii kinds {unknown} not in "
                    f"{sorted(PII_PATTERNS)} for [{key}]"
                )
            maxn = int(rule.pii.get("max", 0))
            cnt = None
            for kd in kinds:
                c = F.size(
                    F.regexp_extract_all(
                        F.coalesce(sval, F.lit("")),
                        F.lit(PII_PATTERNS[kd]), F.lit(0),
                    )
                )
                cnt = c if cnt is None else cnt + c
            self._emit(
                gate & (cnt > F.lit(maxn)),
                _mk_struct(
                    path,
                    rule_id,
                    ErrorType.PII_FOUND,
                    f"value of {key} must not contain PII "
                    f"({', '.join(kinds)})",
                    cnt,
                ),
            )

    # -- array element checks (inside transform, still codegen'd) ----------

    def _array_checks(self, col: Column, rule: Rule, path: str, gate: Column) -> None:
        dt = _field_type(self.schema, path)
        elem_dt = dt.elementType if isinstance(dt, T.ArrayType) else None
        key = path.split(".")[-1]

        if isinstance(rule.constraint, str):
            cname = rule.constraint
            # per-element type check, violation key "arr.idx"
            # (reference rule.go:175-184)
            if rule.dynamic and isinstance(elem_dt, T.StringType):
                def elem_check(x: Column, i: Column) -> Column:
                    s = x.cast("string")
                    bad = yamlmeta.infer_type_col(s) != F.lit(
                        yamlmeta.TYPE_BY_TAG[yamlmeta.TAG_BY_TYPE[cname]]
                    )
                    k = F.concat(F.lit(key + "."), i.cast("string"))
                    return F.when(
                        bad,
                        F.struct(
                            F.lit(path).alias("column"),
                            F.lit(path).alias("rule_id"),
                            F.lit(ErrorType.TYPE_MISMATCH).alias("error_type"),
                            F.concat(
                                F.lit("type for ["),
                                k,
                                F.lit(f"] must be [{cname}]"),
                            ).alias("message"),
                            s.alias("observed"),
                        ),
                    ).otherwise(_null_struct())

                arr = F.when(gate, F.transform(col, elem_check)).otherwise(
                    F.array().cast(T.ArrayType(model.CHECK_STRUCT))
                )
                self.plan.array_checks.append(arr)
            else:
                # statically typed elements: compile-time check
                if elem_dt is not None and not _static_type_ok(cname, elem_dt):
                    self._emit_schema(
                        path,
                        path,
                        ErrorType.TYPE_MISMATCH,
                        model.type_mismatch_msg(key, cname),
                    )
        elif isinstance(rule.constraint, Rule):
            # array of objects: validate each element's fields
            # (reference rule.go:186-192). Elements must be structs.
            if not isinstance(elem_dt, T.StructType) and elem_dt is not None:
                self._emit_schema(
                    path, path, ErrorType.TYPE_MISMATCH,
                    model.type_mismatch_msg(key, "$obj"),
                )
                return
            # higher-order-function lambdas are introspected by arity:
            # extra params would become lambda vars, so capture the
            # child rule via a closure factory instead of default args.
            def _make_elem_rule_check(ch: Rule, cp: str):
                def elem_rule_check(x: Column) -> Column:
                    v = x[ch.key].cast("string")
                    conds: list[tuple[Column, str, Column]] = []
                    if ch.required:
                        conds.append(
                            (
                                x[ch.key].isNull(),
                                ErrorType.KEY_MISSING,
                                F.lit(model.key_missing_msg(ch.key)),
                            )
                        )
                    if ch.dynamic:
                        want_type = yamlmeta.TYPE_BY_TAG[
                            yamlmeta.TAG_BY_TYPE[ch.rule_type]
                        ]
                        conds.append(
                            (
                                yamlmeta.infer_type_col(v) != F.lit(want_type),
                                ErrorType.TYPE_MISMATCH,
                                F.lit(model.type_mismatch_msg(ch.key, ch.rule_type)),
                            )
                        )
                    if ch.reg is not None:
                        conds.append(
                            (
                                ~v.rlike(ch.reg),
                                ErrorType.REGX_MISMATCH,
                                F.lit(model.regx_msg(ch.key, ch.reg)),
                            )
                        )
                    if ch.of:
                        conds.append(
                            (
                                ~v.isin([str(o) for o in ch.of]),
                                ErrorType.OF_MISMATCH,
                                F.lit(model.of_msg(ch.key, ch.of)),
                            )
                        )
                    if ch.length_min:
                        conds.append(
                            (
                                F.octet_length(v) < F.lit(ch.length_min),
                                ErrorType.STR_LENGTH_MISMATCH,
                                F.lit(model.str_length_min_msg(ch.key, ch.length_min)),
                            )
                        )
                    if ch.length_max:
                        conds.append(
                            (
                                F.octet_length(v) > F.lit(ch.length_max),
                                ErrorType.STR_LENGTH_MISMATCH,
                                F.lit(model.str_length_max_msg(ch.key, ch.length_max)),
                            )
                        )
                    out = _null_struct()
                    # first failing condition wins per element+field
                    for cond, et, msg in reversed(conds):
                        out = F.when(
                            cond,
                            F.struct(
                                F.lit(cp).alias("column"),
                                F.lit(cp).alias("rule_id"),
                                F.lit(et).alias("error_type"),
                                msg.alias("message"),
                                v.alias("observed"),
                            ),
                        ).otherwise(out)
                    return out

                return elem_rule_check

            for child in rule.constraint.children:
                cpath = f"{path}[].{child.key}"
                have = (
                    elem_dt is not None
                    and any(f.name == child.key for f in elem_dt.fields)
                )
                if not have:
                    if child.required:
                        self._emit_schema(
                            cpath, cpath, ErrorType.KEY_MISSING,
                            model.key_missing_msg(child.key),
                        )
                        self.plan.fail_fast = True
                        return
                    continue
                arr = F.when(
                    gate, F.transform(col, _make_elem_rule_check(child, cpath))
                ).otherwise(F.array().cast(T.ArrayType(model.CHECK_STRUCT)))
                self.plan.array_checks.append(arr)

    # -- main walk ----------------------------------------------------------

    def walk(self, rule: Rule, prefix: str = "") -> None:
        """Depth-first over children in document order (rule.go:152)."""
        for child in rule.children:
            if self.plan.fail_fast:
                return
            path = f"{prefix}.{child.key}" if prefix else child.key
            key = child.key
            dt = _field_type(self.schema, path)

            if child.when is not None:
                # $when row-scope predicate: compile the subtree as
                # usual, then gate everything it emitted
                self._compile_when_scoped(child, path, prefix)
                continue

            # collect table-scale directives regardless of mode
            if child.unique:
                self.plan.unique_cols.append(path)
            if child.unique_with:
                for c in child.unique_with:
                    if _field_type(self.schema, c) is None:
                        raise ValueError(
                            f"$unique with on [{path}]: column [{c}] "
                            "absent from table schema"
                        )
                self.plan.unique_composite.append(
                    (path, list(child.unique_with))
                )
            if child.ref is not None:
                mode = child.ref.get("mode", "exact")
                if mode not in ("exact", "bloom"):
                    raise ValueError(
                        f"$ref mode on [{path}] must be 'exact' or "
                        f"'bloom', got [{mode}]"
                    )
                self.plan.ref_specs.append((path, child.ref))
            if child.stats is not None:
                self.plan.stats_specs.append((path, child.stats))
            if child.drift is not None:
                self.plan.drift_specs.append((path, child.drift))
            if child.pixel is not None:
                self.plan.pixel_specs.append((path, child.pixel))
            if child.caption_eq is not None:
                self.plan.caption_specs.append((path, child.caption_eq))
            if child.vector is not None:
                vnorm = child.vector.get("norm")
                if vnorm is not None:
                    if not isinstance(vnorm, dict) or not (
                        "min" in vnorm or "max" in vnorm
                    ):
                        raise ValueError(
                            f"$vector norm on [{path}] needs a map with "
                            f"min and/or max, got {vnorm!r}"
                        )
                    for b in ("min", "max"):
                        bv = vnorm.get(b)
                        if bv is not None and (
                            not isinstance(bv, (int, float))
                            or isinstance(bv, bool)
                        ):
                            raise ValueError(
                                f"$vector norm {b} on [{path}] must be "
                                f"a number, got {bv!r}"
                            )
                    if (
                        vnorm.get("min") is not None
                        and vnorm.get("max") is not None
                        and vnorm["min"] > vnorm["max"]
                    ):
                        raise ValueError(
                            f"$vector norm on [{path}]: min > max"
                        )
                self.plan.vector_specs.append((path, child.vector))
            if child.align is not None:
                partner = child.align.get("with")
                if not partner or not isinstance(partner, str):
                    raise ValueError(
                        f"$align on [{path}] needs with: <other vector "
                        f"column>, got {child.align!r}"
                    )
                if _field_type(self.schema, partner) is None:
                    raise ValueError(
                        f"$align on [{path}]: column [{partner}] absent "
                        "from table schema"
                    )
                mc = child.align.get("min_cos")
                if not isinstance(mc, (int, float)) or isinstance(mc, bool):
                    raise ValueError(
                        f"$align on [{path}] needs a numeric min_cos, "
                        f"got {mc!r}"
                    )
                self.plan.align_specs.append((path, child.align))
            if child.assert_ is not None and dt is not None:
                # a $assert on a column absent from the schema is
                # skipped (optional-absent parity with the row checks
                # — required-absent already fail-fasts the run);
                # collecting it would crash the runner's assertion
                # aggregation with an unresolved column
                a_stat = child.assert_.get("stat", "null_rate")
                if a_stat not in ASSERT_STATS:
                    raise ValueError(
                        f"unknown $assert stat [{a_stat}] on column "
                        f"[{path}] (choose from {ASSERT_STATS})"
                    )
                _require_numeric("$assert stat", a_stat, path, dt)
                self.plan.assert_specs.append((path, child.assert_))
            if child.dist is not None and dt is not None:
                # $dist on an absent column: skipped like $assert (the
                # schema-level keyMissing violation already covers it)
                exp = child.dist.get("expected")
                if not isinstance(exp, dict) or len(exp) < 2:
                    raise ValueError(
                        f"$dist on column [{path}] needs an 'expected' "
                        "map of >= 2 categories"
                    )
                for cat, w in exp.items():
                    if not isinstance(w, (int, float)) or not w > 0:
                        raise ValueError(
                            f"$dist expected weight for [{cat}] on "
                            f"column [{path}] must be a number > 0, "
                            f"got {w!r}"
                        )
                alpha = child.dist.get("alpha", 0.05)
                if not 0.0 < float(alpha) < 1.0:
                    raise ValueError(
                        f"$dist alpha on column [{path}] must be in "
                        f"(0, 1), got {alpha!r}"
                    )
                self.plan.dist_specs.append((path, child.dist))
            if child.dupspan is not None and dt is not None:
                # $dupspan: cross-document duplicated-span coverage
                # gate — a text-column rule ($dist-style absent-column
                # skip; the schema keyMissing violation covers that)
                if not isinstance(dt, T.StringType):
                    raise ValueError(
                        f"$dupspan on column [{path}] requires a "
                        f"string column, got {dt.simpleString()}"
                    )
                ds_n = child.dupspan.get("n", 3)
                if not isinstance(ds_n, int) or ds_n < 2:
                    raise ValueError(
                        f"$dupspan n on column [{path}] must be an "
                        f"integer >= 2, got {ds_n!r}"
                    )
                cov = child.dupspan.get("max_coverage", 0.5)
                if not isinstance(cov, (int, float)) or not 0 < cov <= 1:
                    raise ValueError(
                        f"$dupspan max_coverage on column [{path}] "
                        f"must be in (0, 1], got {cov!r}"
                    )
                ds_df = child.dupspan.get("min_df", 2)
                if not isinstance(ds_df, int) or ds_df < 2:
                    raise ValueError(
                        f"$dupspan min_df on column [{path}] must be "
                        f"an integer >= 2, got {ds_df!r}"
                    )
                self.plan.dupspan_specs.append((path, child.dupspan))
            if child.anomaly is not None and dt is not None:
                a_metric = child.anomaly.get("metric", "violation_rate")
                if a_metric not in ANOMALY_METRICS:
                    raise ValueError(
                        f"unknown $anomaly metric [{a_metric}] on "
                        f"column [{path}] (choose from "
                        f"{ANOMALY_METRICS})"
                    )
                _require_numeric("$anomaly metric", a_metric, path, dt)
                zm = child.anomaly.get("z_max")
                if zm is not None and (
                    not isinstance(zm, (int, float))
                    or isinstance(zm, bool) or zm <= 0
                ):
                    raise ValueError(
                        f"$anomaly z_max on column [{path}] must be a "
                        f"positive number, got {zm!r}"
                    )
                self.plan.anomaly_specs.append((path, child.anomaly))
            if child.expr_ is not None and dt is not None:
                # $expr: cross-column row predicate (deequ `satisfies`
                # analog). FALSE *or NULL* fails the row (a predicate
                # that can't evaluate is not satisfied). The Catalyst
                # expression rides this same codegen projection —
                # zero extra scans; compile_row_checks validates it
                # resolves to BOOLEAN against the table schema before
                # any job runs.
                sql = child.expr_.get("sql")
                if not sql or not isinstance(sql, str):
                    raise ValueError(
                        f"$expr on [{path}] needs sql: <boolean "
                        "expression> (e.g. sql: 'w <= h * 10')"
                    )
                self.plan.expr_specs.append((path, sql))
                observed = (
                    F.col(path).cast("string")
                    if not isinstance(
                        dt, (T.StructType, T.MapType, T.ArrayType,
                             T.BinaryType)
                    )
                    else F.lit(None)
                )
                self._emit(
                    self.alive & ~F.coalesce(F.expr(sql), F.lit(False)),
                    _mk_struct(
                        path, path, ErrorType.EXPR_MISMATCH,
                        model.expr_msg(key, sql), observed,
                    ),
                )

            # cross-row / cross-table directives (checks/relations.py):
            # column references are validated against the table schema
            # at compile time — a misconfigured rule is a RULE error
            # (reference NewRule parity), never a fake data failure
            if child.fd is not None and dt is not None:
                dep = child.fd.get("dep")
                if not dep or not isinstance(dep, str):
                    raise ValueError(
                        f"$fd on [{path}] needs dep: <column name>"
                    )
                if _field_type(self.schema, dep) is None:
                    raise ValueError(
                        f"$fd on [{path}]: dependent column [{dep}] "
                        "absent from table schema"
                    )
                self.plan.fd_specs.append((path, child.fd))
            if child.monotonic is not None and dt is not None:
                for req in ("per", "order"):
                    v = child.monotonic.get(req)
                    if not v or not isinstance(v, str):
                        raise ValueError(
                            f"$monotonic on [{path}] needs "
                            f"{req}: <column name>"
                        )
                    if _field_type(self.schema, v) is None:
                        raise ValueError(
                            f"$monotonic on [{path}]: column [{v}] "
                            "absent from table schema"
                        )
                self.plan.monotonic_specs.append((path, child.monotonic))
            if child.reconcile is not None and dt is not None:
                for req in ("table", "key", "value", "term", "order"):
                    if not child.reconcile.get(req):
                        raise ValueError(
                            f"$reconcile on [{path}] needs {req}: … "
                            "(table/key/value name the dimension side; "
                            "term is the fact-row SQL expression; "
                            "order makes the float fold canonical)"
                        )
                if _field_type(self.schema, child.reconcile["order"]) is None:
                    raise ValueError(
                        f"$reconcile on [{path}]: order column "
                        f"[{child.reconcile['order']}] absent from "
                        "table schema"
                    )
                self.plan.reconcile_specs.append((path, child.reconcile))
            if child.magic is not None and dt is not None:
                # $magic rides THIS projection: pure Catalyst hex ops
                # on the binary column — the zero-decode structural
                # screen that keeps corrupt containers and lying
                # metadata out of the (1000× costlier) Arrow decode
                # stage. fmt is required; w/h are both-or-neither.
                from invalid_spark.checks import image as image_checks

                if not isinstance(dt, T.BinaryType):
                    raise ValueError(
                        f"$magic on [{path}] requires a binary column, "
                        f"got {dt.simpleString()}"
                    )
                fmt_col = child.magic.get("fmt")
                if not fmt_col or not isinstance(fmt_col, str):
                    raise ValueError(
                        f"$magic on [{path}] needs fmt: <column name>"
                    )
                w_col = child.magic.get("w")
                h_col = child.magic.get("h")
                if bool(w_col) != bool(h_col):
                    raise ValueError(
                        f"$magic on [{path}]: pass BOTH w and h "
                        "columns or neither"
                    )
                for c in (fmt_col, w_col, h_col):
                    if c and _field_type(self.schema, c) is None:
                        raise ValueError(
                            f"$magic on [{path}]: column [{c}] absent "
                            "from table schema"
                        )
                det = image_checks.detected_container(F.col(path))
                self._emit(
                    self.alive
                    & ~image_checks._accepts(det, F.col(fmt_col)),
                    _mk_struct(
                        path, path, ErrorType.MAGIC_MISMATCH,
                        model.magic_msg(child.key, fmt_col),
                        F.concat_ws(
                            " vs ",
                            F.coalesce(det, F.lit("unknown")),
                            F.col(fmt_col),
                        ),
                    ),
                )
                if w_col and h_col:
                    hw, hh = image_checks.header_dims(F.col(path))
                    self._emit(
                        self.alive
                        & hw.isNotNull()
                        & (
                            (hw != F.col(w_col).cast("long"))
                            | (hh != F.col(h_col).cast("long"))
                        ),
                        _mk_struct(
                            path, f"{path}~dims",
                            ErrorType.HEADER_MISMATCH,
                            model.header_dims_msg(child.key),
                            F.concat_ws(
                                " vs ",
                                F.concat_ws("x", hw, hh),
                                F.concat_ws(
                                    "x", F.col(w_col), F.col(h_col)
                                ),
                            ),
                        ),
                    )

            if dt is None:
                # column absent from the table schema
                if child.required:
                    # schema-level keyMissing + fail-fast
                    # (reference rule.go:159-165)
                    self._emit_schema(
                        path, path, ErrorType.KEY_MISSING,
                        model.key_missing_msg(key),
                    )
                    self.plan.fail_fast = True
                    return
                continue  # optional + absent → skip (rule.go:166-167)

            col = F.col(path)

            if child.rule_type == "$obj":
                # $key-reg on MapType columns — engine-enforced
                # (reference parses but never enforces, rule.go:446-456)
                if child.key_reg is not None and isinstance(dt, T.MapType):
                    bad = ~F.forall(
                        F.map_keys(col), lambda k: k.rlike(child.key_reg)
                    )
                    self._emit(
                        self.alive & bad,
                        _mk_struct(
                            path,
                            path,
                            ErrorType.KEY_NAME_MISMATCH,
                            model.key_name_msg(key, child.key_reg),
                            F.to_json(F.map_keys(col)),
                        ),
                    )
                if isinstance(dt, T.StructType):
                    self.walk(child, path)
                continue

            if child.rule_type == "$arr":
                if not isinstance(dt, T.ArrayType):
                    self._emit_schema(
                        path, path, ErrorType.TYPE_MISMATCH,
                        model.type_mismatch_msg(key, "$arr"),
                    )
                    continue
                self._array_checks(col, child, path, self.alive)
                continue

            # scalar rules -------------------------------------------------
            dynamic = child.dynamic and isinstance(dt, T.StringType)

            if dynamic:
                # presence: SQL NULL = key absent; a present null is the
                # spelling "null"/"~"/"" (distinguishable, exact parity)
                present = col.isNotNull()
            else:
                # static tables can't distinguish absent from null;
                # required → NOT NULL per row ($null rules exempt)
                present = col.isNotNull()
                if not dynamic and not _static_type_ok(child.rule_type, dt):
                    self._emit_schema(
                        path, path, ErrorType.TYPE_MISMATCH,
                        model.type_mismatch_msg(key, child.rule_type),
                    )
                    # reference accumulates type mismatches; keep walking

            if child.required and child.rule_type != "$null":
                miss = self.alive & ~present
                self._emit(
                    miss,
                    _mk_struct(
                        path, path, ErrorType.KEY_MISSING,
                        model.key_missing_msg(key), None,
                    ),
                )
                # rows that hit keyMissing stop accumulating
                # (context-cancel analog)
                self.alive = self.alive & present
                gate = self.alive
            else:
                gate = self.alive & present if child.rule_type != "$null" else self.alive

            self._scalar_checks(col, child, path, key, gate, dynamic)


# The latest plan compiled, keyed by (session, rules fingerprint,
# schema, strict). One entry, replaced on a miss: a continuous loop
# validates the same rules against the same schema call after call.
_PLAN_CACHE: dict[tuple, RowCheckPlan] = {}


def _copy_plan(plan: RowCheckPlan) -> RowCheckPlan:
    """A copy whose list fields are fresh lists: a caller may rebind or
    extend any of them without touching the cached plan."""
    return replace(plan, **{
        f.name: list(getattr(plan, f.name))
        for f in fields(plan) if isinstance(getattr(plan, f.name), list)
    })


def compile_row_checks(
    df: DataFrame, rules: RuleSet, strict: bool = False
) -> RowCheckPlan:
    """``strict=True`` additionally flags top-level data columns no
    rule covers (schema-level ``extraKey`` violations). The reference
    is permissive by design — its walk iterates rules, not data
    (rule.go:152-157) — so strict mode is off by default.

    The latest plan is kept and a copy of it returned while the
    SparkSession, the rules fingerprint, the schema (names, types,
    nullability) and ``strict`` are unchanged: the plan's Columns are
    unresolved expressions, valid against any frame of that schema,
    and every compile-time check below depends only on the schema."""
    schema = df.schema
    key = (df.sparkSession, rules.fingerprint(), schema, strict)
    plan = _PLAN_CACHE.get(key)
    if plan is None:
        plan = _compile(df, schema, rules, strict)
        _PLAN_CACHE.clear()
        _PLAN_CACHE[key] = plan
    return _copy_plan(plan)


def _compile(
    df: DataFrame, schema: T.StructType, rules: RuleSet, strict: bool
) -> RowCheckPlan:
    c = _Compiler(schema)
    c.walk(rules.root)
    # $expr and $when predicates must resolve to BOOLEAN against this
    # table — schema-only analysis (no job), reference NewRule-style
    # compile errors instead of an executor-side analysis exception
    for directive, specs in (
        ("$expr", c.plan.expr_specs), ("$when", c.plan.when_specs)
    ):
        for pth, sql in specs:
            try:
                pdt = df.select(F.expr(sql).alias("p")).schema[0].dataType
            except Exception as e:
                raise ValueError(
                    f"{directive} on [{pth}] does not compile against the "
                    f"table schema: {e}"
                ) from e
            if not isinstance(pdt, T.BooleanType):
                raise ValueError(
                    f"{directive} on [{pth}] must be a BOOLEAN expression, "
                    f"got {pdt.simpleString()}"
                )
    if strict:
        ruled = {r.key for r in rules.root.children}
        for f in schema.fields:
            if f.name not in ruled:
                c._emit_schema(
                    f.name, f.name, ErrorType.EXTRA_KEY,
                    model.extra_key_msg(f.name),
                )
    return c.plan


def run_row_checks(
    df: DataFrame,
    rules: RuleSet,
    row_key: str,
    run_id: str = "",
    plan: RowCheckPlan | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Evaluate all row-local checks in one projection → violations DF
    (schema :data:`invalid_spark.model.VIOLATION_SCHEMA`).

    The physical plan is: scan (only the rule-referenced columns +
    row key are read — column pruning reaches the parquet scan) →
    one Project with the CASE-chain array → filter non-empty →
    explode. No shuffle, no Python.

    ``keep_cols``: source columns carried through onto every emitted
    violation row (e.g. an event-time column for streaming windowed
    metrics — a post-hoc stream-stream re-join would need watermarks
    and a time-range condition; threading the column through the
    projection costs nothing)."""
    plan = plan or compile_row_checks(df, rules)
    spark = df.sparkSession
    arr = plan.raw_violations_array()
    keep = list(keep_cols or [])
    out = model.as_violations(
        df.select(
            F.col(row_key).cast("string").alias("row_key"),
            F.spark_partition_id().alias("partition_id"),
            F.explode(arr).alias("v"),
            *[F.col(c) for c in keep],
        ).filter(F.col("v").isNotNull()),
        "row_key",
        *[F.col(f"v.{f}") for f in model.CHECK_STRUCT.names],
        run_id=run_id,
        keep_cols=keep,
    )
    if plan.schema_violations:
        rows = [
            {**sv, "partition_id": None, "run_id": run_id}
            for sv in plan.schema_violations
        ]
        sdf = model.local_frame(spark, rows, model.VIOLATION_SCHEMA)
        for c in keep:
            sdf = sdf.withColumn(c, F.lit(None).cast(df.schema[c].dataType))
        out = sdf.unionByName(out) if not plan.fail_fast else sdf
        # fail-fast: schema-level keyMissing aborts the whole walk —
        # row checks compiled before it are NOT evaluated (reference
        # returns immediately at rule.go:163)
    return out
