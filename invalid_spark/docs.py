"""Document-mode YAML validation: the reference's literal user
workflow (``NewYAML(file)`` + ``NewRule(file)`` + ``Validate``,
reference yaml.go:73-101, rule.go:131-141, valid_test.go:56-193) over
a DataFrame of flattened documents.

Spark re-expression: each YAML document flattens driver-side (config
files are KB-sized metadata) into one row per node — (doc_id, path,
value-type, raw spelling) — and validation is a broadcast join of the
compiled rule table against the node table plus one CASE projection.
The same plan validates one config file or a corpus of millions of
flattened documents: rules are tiny and broadcast, the node table
shuffles only for the per-document presence anti-join.

Exact reference semantics replicated (asserted against the
reference's own ``test/`` fixture pairs in tests/test_docs.py):

- type inference is YAML 1.2 core-schema by raw spelling
  (:mod:`invalid_spark.yamlmeta`), not PyYAML's 1.1 resolver — so
  ``yes`` is a string, ``0xC`` an int, ``1e2`` a float;
- scalar ``Value()`` is the raw spelling, never a parsed number;
- required-by-default; first missing required key cancels the whole
  walk keeping earlier violations (context cancel, rule.go:159-165);
- array elements are keyed ``parent.idx`` (rule.go:178);
- the swapped length messages (``must <``/``must >``) and the
  min-masks-max else-if are replicated verbatim (result.go:32-38,
  rule.go:205-215) — this adapter is the literal-parity surface; the
  table engine (checks/rows.py) fixes them as documented divergence;
- ``$of`` membership compares raw spellings; the full enum is kept
  (documented divergence from the first-element bug, rule.go:533-535);
- ``$key-reg`` IS enforced (documented divergence: the reference
  parses but never enforces it, result.go:44-46 has zero callers).

Violation order: ``ord`` is a zero-padded path of rule positions
with array indices spliced in — lexicographic order equals the
reference's depth-first emission order (valid_test.go:158-169 asserts
it for the type_mismatch golden).
"""

from __future__ import annotations

import os

import yaml

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from invalid_spark import yamlmeta
from invalid_spark.dsl import Rule, RuleSet
from invalid_spark.model import local_frame

# reference ValueType names by core-schema tag (yaml.go:23-35,256-276)
_VT_BY_TAG = {
    "!!str": "$str",
    "!!int": "$int",
    "!!float": "$float",
    "!!bool": "$bool",
    "!!null": "$nil",
    "!!map": "$obj",
    "!!seq": "$arr",
}

# expected data value-type per rule type (rule $null ↔ $nil); $any is
# absent → no type check; $seq expects a sequence of any element type
# ($seq/$any are declared-but-TODO in the reference — implemented
# declared semantics, documented divergence). $obj/$arr are
# DELIBERATELY absent: the reference emits no typeMismatch when a
# container rule meets a scalar — ObjRule only recurses (children go
# keyMissing, rule.go:169-171) and ArrRule iterates the node's
# children, which a scalar has none of (rule.go:175-192); parity
# asserted in tests/test_docs.py::test_container_rule_on_scalar_parity.
_VT_BY_RULE = {
    "$str": "$str",
    "$int": "$int",
    "$float": "$float",
    "$bool": "$bool",
    "$null": "$nil",
    "$seq": "$arr",
}

FIELD_SCHEMA = (
    "doc_id string, path string, rpath string, parent_path string, "
    "parent_rpath string, key string, vtype string, value string, "
    "elems array<int>, child_idx int, "
    "line int, col_start int, col_end int, "
    "eline int, ecol_start int, ecol_end int, "
    "kline int, kcol_start int, kcol_end int, "
    "pline int, pcol_start int, pcol_end int, "
    "peline int, pecol_start int, pecol_end int"
)

# column order of FIELD_SCHEMA, shared by the mapInPandas ingests
_FIELD_COLS = [
    "doc_id", "path", "rpath", "parent_path", "parent_rpath",
    "key", "vtype", "value", "elems", "child_idx",
    "line", "col_start", "col_end",
    "eline", "ecol_start", "ecol_end",
    "kline", "kcol_start", "kcol_end",
    "pline", "pcol_start", "pcol_end",
    "peline", "pecol_start", "pecol_end",
]


def _error_row(doc_id: str, e: Exception) -> tuple:
    """Sentinel node row for an unparseable document."""
    return (doc_id, "", "", "", "", "", "$error", str(e)[:500], [],
            None) + (None,) * 15


_RULE_SCHEMA = (
    "rpath string, parent_rpath string, key string, rule_type string, "
    "want_vt string, required boolean, len_min long, len_max long, "
    "reg string, of array<string>, constraint_scalar string, "
    "key_reg string, pos_path string, rule_idx int"
)


def _node_vt(node) -> str:
    if isinstance(node, yaml.MappingNode):
        return "$obj"
    if isinstance(node, yaml.SequenceNode):
        return "$arr"
    return _VT_BY_TAG[yamlmeta.infer_tag(node.value, node.style is not None)]


def _node_range(node) -> tuple[int, int, int]:
    """Reference ``NewLineByYAMLNode`` (range.go:14-30): 1-based line
    and column of the node's start, end column = start + value length
    (+2 when single/double-quoted; containers count 0). PyYAML marks
    are 0-based, go-yaml's are 1-based — hence the +1."""
    c = (
        0
        if isinstance(node, (yaml.MappingNode, yaml.SequenceNode))
        else len(node.value)
    )
    if getattr(node, "style", None) in ("'", '"'):
        c += 2
    line = node.start_mark.line + 1
    col = node.start_mark.column + 1
    return line, col, col + c


_NO_RANGE = (None, None, None)
_NO_FULL_RANGE = (_NO_RANGE, _NO_RANGE)


def _expend(r1, r2):
    """Reference ``Range.expend`` (range.go:70-105): merge two
    (start, end) line-triples — earliest start wins (same line merges
    min col_start / max col_end), latest end wins symmetrically."""
    (s1, e1), (s2, e2) = r1, r2
    if s1[0] < s2[0]:
        start = s1
    elif s1[0] == s2[0]:
        start = (s1[0], min(s1[1], s2[1]), max(s1[2], s2[2]))
    else:
        start = s2
    if e1[0] < e2[0]:
        end = e2
    elif e1[0] == e2[0]:
        end = (e1[0], min(e1[1], e2[1]), max(e1[2], e2[2]))
    else:
        end = e1
    return (start, end)


def _full_range(node, memo: dict):
    """The node's EXPANDED source range — the reference's
    ``getValueRange``: a scalar is (own, own); a container starts
    from its own mark and ``expend``s over every child's full range
    (yaml.go:392-395 for sequences, yaml.go:449-451 for mappings).
    Memoized per flatten so the walk stays linear."""
    r = memo.get(id(node))
    if r is not None:
        return r
    own = _node_range(node)
    rng = (own, own)
    if isinstance(node, yaml.MappingNode):
        children = [v for _, v in node.value]
    elif isinstance(node, yaml.SequenceNode):
        children = list(node.value)
    else:
        children = []
    for ch in children:
        rng = _expend(rng, _full_range(ch, memo))
    memo[id(node)] = rng
    return rng


def _flatten_node(
    node, path, rpath, key, elems, rows, memo,
    key_node=None, child_idx=None, parent_rng=_NO_FULL_RANGE,
) -> None:
    parent_path, _, _ = path.rpartition(".") if "." in path else ("", "", path)
    parent_rpath = rpath.rpartition(".")[0] if "." in rpath else ""
    vt = _node_vt(node)
    value = node.value if not isinstance(
        node, (yaml.MappingNode, yaml.SequenceNode)
    ) else ""
    vrng = _full_range(node, memo)
    krng = _node_range(key_node) if key_node is not None else _NO_RANGE
    rows.append(
        (path, rpath, parent_path, parent_rpath, key, vt, value, elems,
         child_idx, *vrng[0], *vrng[1], *krng,
         *parent_rng[0], *parent_rng[1])
    )
    if isinstance(node, yaml.MappingNode):
        for i, (k, v) in enumerate(node.value):
            kn = k.value if isinstance(k, yaml.ScalarNode) else str(k.value)
            cp = f"{path}.{kn}" if path else kn
            crp = f"{rpath}.{kn}" if rpath else kn
            _flatten_node(v, cp, crp, kn, elems, rows, memo,
                          key_node=k, child_idx=i, parent_rng=vrng)
    elif isinstance(node, yaml.SequenceNode):
        for i, v in enumerate(node.value):
            cp = f"{path}.{i}" if path else str(i)
            crp = f"{rpath}.*" if rpath else "*"
            _flatten_node(v, cp, crp, str(i), elems + [i], rows, memo,
                          child_idx=i, parent_rng=vrng)


def flatten_document(text_or_node, doc_id: str) -> list[tuple]:
    """One YAML document → node rows (reference ``NewYAML``,
    yaml.go:73-101: the root must be the document's single node)."""
    node = (
        yaml.compose(text_or_node, Loader=yaml.SafeLoader)
        if isinstance(text_or_node, str)
        else text_or_node
    )
    if node is None:
        raise ValueError(f"empty yaml document: {doc_id}")
    rows: list[tuple] = []
    # the document root: path "" — root-level rules join against it
    _flatten_node(node, "", "", "", [], rows, {})
    return [(doc_id, *r) for r in rows]


def yaml_docs_df(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Flatten YAML files (one or many documents each) into the node
    table. ``doc_id`` is the file basename, suffixed ``#i`` for
    multi-document files. Driver-side parse is the right shape: rule
    and config documents are small metadata; corpus-scale inputs
    arrive already flattened (e.g. from a table of YAML strings via
    :func:`flatten_document` under ``mapInPandas``)."""
    rows: list[tuple] = []
    for p in paths:
        with open(p, "r", encoding="utf-8") as f:
            docs = list(yaml.compose_all(f, Loader=yaml.SafeLoader))
        base = os.path.basename(p)
        for i, node in enumerate(docs):
            if node is None:
                continue
            did = base if len(docs) == 1 else f"{base}#{i}"
            rows.extend(flatten_document(node, did))
    return local_frame(spark, rows, FIELD_SCHEMA)


def yaml_docs_from_table(
    df: DataFrame,
    text_col: str = "yaml",
    key_col: str = "doc_id",
) -> DataFrame:
    """Corpus-scale ingest: a table COLUMN of YAML document strings →
    the flattened node table, parsed on the executors via
    ``mapInPandas`` (Arrow batches — config documents are small, so a
    batch holds thousands; no driver round-trip, scales with the
    cluster). This is the path for validating millions of stored
    configs/manifests: ``spark.read`` the table, flatten here, then
    :func:`validate_yaml_docs` exactly as in the file-based mode.

    Unparseable or empty documents yield a single sentinel row
    (``vtype='$error'``, ``value``=message): downstream validation
    naturally fails every required root rule for them (no child rows
    exist), and :func:`parse_errors` lists them directly."""
    import pandas as pd

    cols = _FIELD_COLS

    def parse(batches):
        for pdf in batches:
            out: list[tuple] = []
            for did, txt in zip(pdf[key_col], pdf[text_col]):
                did = str(did)
                try:
                    out.extend(flatten_document(txt, did))
                except Exception as e:  # malformed YAML → sentinel
                    out.append(_error_row(did, e))
            yield pd.DataFrame(out, columns=cols)

    return df.select(
        F.col(key_col).cast("string").alias(key_col), F.col(text_col)
    ).mapInPandas(parse, FIELD_SCHEMA)


_JSON_VT = {str: "$str", bool: "$bool", int: "$int", float: "$float"}


def _json_vt(v) -> str:
    if v is None:
        return "$nil"
    if isinstance(v, dict):
        return "$obj"
    if isinstance(v, list):
        return "$arr"
    if isinstance(v, bool):  # before int — bool is an int subclass
        return "$bool"
    return _JSON_VT[type(v)]


def _json_value(v) -> str:
    if v is None or isinstance(v, (dict, list)):
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v) if not isinstance(v, float) else repr(v)


def _flatten_json(v, path, rpath, key, elems, rows, child_idx=None) -> None:
    parent_path = path.rpartition(".")[0] if "." in path else ""
    parent_rpath = rpath.rpartition(".")[0] if "." in rpath else ""
    rows.append(
        (path, rpath, parent_path, parent_rpath, key, _json_vt(v),
         _json_value(v), elems, child_idx) + (None,) * 15
    )
    if isinstance(v, dict):
        for i, (k, c) in enumerate(v.items()):
            kn = str(k)
            cp = f"{path}.{kn}" if path else kn
            crp = f"{rpath}.{kn}" if rpath else kn
            _flatten_json(c, cp, crp, kn, elems, rows, child_idx=i)
    elif isinstance(v, list):
        for i, c in enumerate(v):
            cp = f"{path}.{i}" if path else str(i)
            crp = f"{rpath}.*" if rpath else "*"
            _flatten_json(c, cp, crp, str(i), elems + [i], rows, child_idx=i)


def flatten_json_document(text_or_obj, doc_id: str) -> list[tuple]:
    """One JSON document → the same node table
    :func:`flatten_document` produces for YAML — realizing the
    reference's PLANNED JSON support (json_field.go is an empty stub)
    with identical validation semantics: the whole rule engine
    (:func:`validate_yaml_docs`) runs unchanged over the flattened
    rows. Scalar spellings are canonical JSON (``true``/``false``,
    ``repr`` floats); source ranges are NULL (json.loads carries no
    positions — the one divergence from the YAML path)."""
    import json as _json

    obj = (
        _json.loads(text_or_obj) if isinstance(text_or_obj, str)
        else text_or_obj
    )
    rows: list[tuple] = []
    _flatten_json(obj, "", "", "", [], rows)
    return [(doc_id, *r) for r in rows]


def json_docs_from_table(
    df: DataFrame,
    text_col: str = "json",
    key_col: str = "doc_id",
) -> DataFrame:
    """Corpus-scale JSON ingest: a table column of JSON strings →
    the flattened node table via ``mapInPandas`` (same contract and
    ``$error`` sentinel as :func:`yaml_docs_from_table`)."""
    import pandas as pd

    cols = _FIELD_COLS

    def parse(batches):
        for pdf in batches:
            out: list[tuple] = []
            for did, txt in zip(pdf[key_col], pdf[text_col]):
                did = str(did)
                try:
                    out.extend(flatten_json_document(txt, did))
                except Exception as e:  # malformed JSON → sentinel
                    out.append(_error_row(did, e))
            yield pd.DataFrame(out, columns=cols)

    return df.select(
        F.col(key_col).cast("string").alias(key_col), F.col(text_col)
    ).mapInPandas(parse, FIELD_SCHEMA)


def parse_errors(fields: DataFrame) -> DataFrame:
    """(doc_id, message) for documents that failed to parse."""
    return fields.filter(F.col("vtype") == "$error").select(
        "doc_id", F.col("value").alias("message")
    )


def _flatten_rules(rules: RuleSet) -> list[tuple]:
    out: list[tuple] = []

    def walk(
        rule: Rule, rpath: str, parent_rpath: str, pos_path: str,
        rule_idx: int,
    ) -> None:
        constraint_scalar = (
            rule.constraint if isinstance(rule.constraint, str) else None
        )
        out.append(
            (
                rpath,
                parent_rpath,
                rule.key,
                rule.rule_type,
                _VT_BY_RULE.get(rule.rule_type),
                rule.required,
                rule.length_min,
                rule.length_max,
                rule.reg,
                rule.of,
                constraint_scalar,
                rule.key_reg,
                pos_path,
                rule_idx,
            )
        )
        for i, c in enumerate(rule.children):
            walk(
                c,
                f"{rpath}.{c.key}" if rpath else c.key,
                rpath,
                f"{pos_path}.{i:05d}" if pos_path else f"{i:05d}",
                i,
            )
        if isinstance(rule.constraint, Rule):
            # $arr object constraint: applies to every element — the
            # element slot is a '*' in both rpath and pos_path, filled
            # with the element index at validation time
            for i, c in enumerate(rule.constraint.children):
                walk(
                    c,
                    f"{rpath}.*.{c.key}",
                    f"{rpath}.*",
                    f"{pos_path}.*.{i:05d}",
                    i,
                )

    for i, c in enumerate(rules.root.children):
        walk(c, c.key, "", f"{i:05d}", i)
    return out


def _fill(template: Column, elems: Column) -> Column:
    """Splice element indices into the '*' slots of a pos_path."""
    return F.aggregate(
        elems,
        template,
        lambda acc, e: F.when(
            F.instr(acc, "*") > 0,
            F.concat(
                F.substring(acc, F.lit(1), F.instr(acc, "*") - 1),
                F.lpad(e.cast("string"), 5, "0"),
                F.substring(acc, F.instr(acc, "*") + 1, F.lit(1 << 30)),
            ),
        ).otherwise(acc),
    )


def validate_yaml_docs(fields: DataFrame, rules: RuleSet) -> DataFrame:
    """Violations over the flattened node table: (doc_id, path, key,
    error_type, message, ord, line, col_start, col_end, eline,
    ecol_start, ecol_end). Empty result = pass (reference
    rule.go:131-141). Sort by ``ord`` for the reference's depth-first
    emission order. The six range columns are the reference's 1-based
    source ``Range`` (result.go:18-22, range.go:8-30) — Start triple
    then End triple; for container anchors both are EXPANDED over the
    children (``expend``, range.go:70-105, applied at
    yaml.go:392-395/449-451), for scalar anchors Start == End. How a
    config author finds (and an editor highlights) the offending
    span."""
    spark = fields.sparkSession
    rdf = local_frame(spark, _flatten_rules(rules), _RULE_SCHEMA)
    r = F.broadcast(rdf)

    # ---- per-field scalar checks (type / length / regex / of) ------
    # field.key == rule.key for rpath-matched rows; drop the rule
    # table's duplicates to keep references unambiguous
    j = fields.join(r.drop("key", "parent_rpath"), "rpath")
    sub = lambda s: F.lit(s)  # noqa: E731 — check sub-order suffix
    of_msg = F.concat(
        F.lit("value of "), F.col("key"), F.lit(" must be one of [["),
        F.array_join("of", " "), F.lit("]]"),
    )
    length_gate = (F.coalesce("len_min", F.lit(0)) != 0) | (
        F.coalesce("len_max", F.lit(0)) != 0
    )
    blen = F.octet_length(F.coalesce("value", F.lit("")))
    checks = F.array_compact(
        F.array(
            F.when(
                F.col("want_vt").isNotNull()
                & (F.col("vtype") != F.col("want_vt")),
                F.struct(
                    F.lit("typeMismatch").alias("et"),
                    F.concat(
                        F.lit("type for ["), F.col("key"),
                        F.lit("] must be ["), F.col("rule_type"), F.lit("]"),
                    ).alias("msg"),
                    sub("s1").alias("sub"),
                ),
            ),
            # reference else-if: a min violation masks the max check,
            # and the two messages have swapped comparators
            # (result.go:32-38) — replicated verbatim
            F.when(
                length_gate
                & (F.coalesce("len_min", F.lit(0)) != 0)
                & (blen < F.col("len_min")),
                F.struct(
                    F.lit("strLengthMismatch").alias("et"),
                    F.concat(
                        F.lit("length of value in ["), F.col("key"),
                        F.lit("] must < "), F.col("len_min").cast("string"),
                    ).alias("msg"),
                    sub("s2").alias("sub"),
                ),
            ).when(
                length_gate
                & (F.coalesce("len_max", F.lit(0)) != 0)
                & (blen > F.col("len_max")),
                F.struct(
                    F.lit("strLengthMismatch").alias("et"),
                    F.concat(
                        F.lit("length of value in ["), F.col("key"),
                        F.lit("] must > "), F.col("len_max").cast("string"),
                    ).alias("msg"),
                    sub("s2").alias("sub"),
                ),
            ),
            F.when(
                F.col("reg").isNotNull()
                & ~F.regexp_like(F.coalesce("value", F.lit("")), F.col("reg")),
                F.struct(
                    F.lit("regxMismatch").alias("et"),
                    F.concat(
                        F.lit("value for ["), F.col("key"),
                        F.lit("] must match regexp : "), F.col("reg"),
                    ).alias("msg"),
                    sub("s3").alias("sub"),
                ),
            ),
            F.when(
                F.col("of").isNotNull()
                & ~F.array_contains(
                    F.col("of"), F.coalesce("value", F.lit(""))
                ),
                F.struct(
                    F.lit("ofMismatch").alias("et"), of_msg.alias("msg"),
                    sub("s4").alias("sub"),
                ),
            ),
        )
    )
    # Every violation row carries the reference's source Range
    # (result.go:18-22, range.go:8-30): scalar checks anchor to the
    # field's VALUE node, array-element checks to the ARRAY node
    # (rule.go:178 uses f.getValueRange() of the array), $key-reg to
    # the KEY node, keyMissing to the parent's rule_idx-th child
    # (rule.go:161 `field.Fields()[i]`; where the reference would
    # index out of range the columns are NULL — documented divergence
    # from a panic).
    scalar_v = (
        j.select(
            "doc_id", "path", "key", "pos_path", "elems",
            "line", "col_start", "col_end",
            "eline", "ecol_start", "ecol_end",
            F.explode(checks).alias("c"),
        )
        .select(
            "doc_id", "path", "key",
            F.col("c.et").alias("error_type"),
            F.col("c.msg").alias("message"),
            F.concat(_fill(F.col("pos_path"), F.col("elems")),
                     F.lit("."), F.col("c.sub")).alias("ord"),
            "line", "col_start", "col_end",
            "eline", "ecol_start", "ecol_end",
        )
    )

    # ---- $arr scalar-constraint element checks (rule.go:175-184) ---
    # the element's ValueType spelling is compared against the
    # constraint's EXPECTED value type ($null ↔ $nil; $any matches
    # every element). The reference cannot hit the $null/$any cases —
    # its scalarTypes excludes both (rule.go:43-44 → compile error) —
    # so this follows the engine's declared-semantics extension.
    want_elem_vt = F.coalesce(
        *(
            [
                F.when(F.col("constraint_scalar") == rt, F.lit(vt))
                for rt, vt in _VT_BY_RULE.items()
            ]
            + [F.col("constraint_scalar")]
        )
    )
    arr_rules = rdf.filter(F.col("constraint_scalar").isNotNull()).select(
        F.col("rpath").alias("parent_rpath"),
        F.col("key").alias("arr_key"),
        "constraint_scalar",
        want_elem_vt.alias("want_elem_vt"),
        F.col("pos_path").alias("arr_pos"),
    )
    elem_v = (
        fields.join(F.broadcast(arr_rules), "parent_rpath")
        .filter(
            (F.col("constraint_scalar") != "$any")
            & (F.col("vtype") != F.col("want_elem_vt"))
        )
        .select(
            "doc_id", "path",
            F.concat("arr_key", F.lit("."), "key").alias("key"),
            F.lit("typeMismatch").alias("error_type"),
            F.concat(
                F.lit("type for ["), F.col("arr_key"), F.lit("."),
                F.col("key"), F.lit("] must be ["),
                F.col("constraint_scalar"), F.lit("]"),
            ).alias("message"),
            F.concat(
                _fill(F.concat("arr_pos", F.lit(".*")), F.col("elems")),
                F.lit(".s1"),
            ).alias("ord"),
            F.col("pline").alias("line"),
            F.col("pcol_start").alias("col_start"),
            F.col("pcol_end").alias("col_end"),
            F.col("peline").alias("eline"),
            F.col("pecol_start").alias("ecol_start"),
            F.col("pecol_end").alias("ecol_end"),
        )
    )

    # ---- $key-reg over object children (declared semantics;
    # reference parses but never enforces — documented divergence) ---
    kr_rules = rdf.filter(F.col("key_reg").isNotNull()).select(
        F.col("rpath").alias("parent_rpath"),
        F.col("key_reg"),
        F.col("pos_path").alias("obj_pos"),
    )
    kr_v = (
        fields.join(F.broadcast(kr_rules), "parent_rpath")
        .filter(~F.regexp_like(F.col("key"), F.col("key_reg")))
        .select(
            "doc_id", "path", "key",
            F.lit("keyNameError").alias("error_type"),
            F.concat(
                F.lit("key name for ["), F.col("key"),
                F.lit("] must match regexp ： "), F.col("key_reg"),
            ).alias("message"),
            F.concat(_fill(F.col("obj_pos"), F.col("elems")),
                     F.lit(".s9")).alias("ord"),
            # key nodes are scalars: End == Start
            F.col("kline").alias("line"),
            F.col("kcol_start").alias("col_start"),
            F.col("kcol_end").alias("col_end"),
            F.col("kline").alias("eline"),
            F.col("kcol_start").alias("ecol_start"),
            F.col("kcol_end").alias("ecol_end"),
        )
    )

    # ---- required-key presence (anti-join per parent instance) -----
    req = rdf.filter("required").select(
        F.col("parent_rpath"), F.col("key").alias("rkey"),
        F.col("pos_path").alias("rpos"), F.col("rule_idx"),
    )
    cand = (
        fields.join(F.broadcast(req), fields.rpath == req.parent_rpath)
        .select(
            "doc_id",
            F.when(F.col("path") == "", F.col("rkey"))
            .otherwise(F.concat("path", F.lit("."), "rkey"))
            .alias("child_path"),
            F.col("path").alias("par_path"),
            "rkey", "rpos", "elems", "rule_idx",
        )
    )
    present = fields.select(
        "doc_id", F.col("path").alias("child_path")
    )
    # keyMissing range: the parent's rule_idx-th existing child's
    # VALUE range (reference `field.Fields()[i]`, rule.go:161) —
    # fetched with one join against the node table keyed on the
    # parent path + document-order child index
    child_rng = fields.select(
        "doc_id",
        F.col("parent_path").alias("par_path"),
        F.col("child_idx").alias("rule_idx"),
        "line", "col_start", "col_end",
        "eline", "ecol_start", "ecol_end",
    )
    km_v = (
        cand.join(present, ["doc_id", "child_path"], "left_anti")
        .join(child_rng, ["doc_id", "par_path", "rule_idx"], "left")
        .select(
            "doc_id",
            F.col("child_path").alias("path"),
            F.col("rkey").alias("key"),
            F.lit("keyMissing").alias("error_type"),
            F.concat(F.lit("key ["), F.col("rkey"),
                     F.lit("] is expected here")).alias("message"),
            F.concat(_fill(F.col("rpos"), F.col("elems")),
                     F.lit(".s0")).alias("ord"),
            "line", "col_start", "col_end",
            "eline", "ecol_start", "ecol_end",
        )
    )

    all_v = scalar_v.unionByName(elem_v).unionByName(kr_v).unionByName(km_v)

    # ---- fail-fast: the first missing required key cancels the walk,
    # keeping earlier violations (rule.go:159-165) ------------------
    w = Window.partitionBy("doc_id")
    km_min = F.min(
        F.when(F.col("error_type") == "keyMissing", F.col("ord"))
    ).over(w)
    return (
        all_v.withColumn("__km", km_min)
        .filter(F.col("__km").isNull() | (F.col("ord") <= F.col("__km")))
        .drop("__km")
    )


def validate_yaml_files(
    spark: SparkSession, data_path: str, rule_path: str
) -> DataFrame:
    """The reference's two-file workflow end-to-end:
    ``NewYAML(data) + NewRule(rules) + Validate`` — returns the
    ordered violations frame."""
    from invalid_spark.dsl import load_rules_file

    return validate_yaml_docs(
        yaml_docs_df(spark, [data_path]), load_rules_file(rule_path)
    ).orderBy("ord")
