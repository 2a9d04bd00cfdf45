"""Rule compiler: rule specs → boolean ``pyspark.sql.Column`` expressions.

This is the heart of the engine (SURVEY.md §2.2/§2.3): every rule the
reference interprets per-row (``/root/reference/src/datacheck/rules.py``)
compiles here to a Catalyst expression, so the whole rule suite runs as
ONE fused projection over the scan — no per-row Python, no Python UDF.

A ``RuleSet`` holds ``RuleDef``s: a rule's id, name and severity,
written once, and a *builder* ``(df, schema) -> (passed, observed)``
returning the rule's Columns, because several rules are shaped by the
DataFrame's own schema (e.g. "every string column is non-empty").
``RuleSet.compile(df, schema)`` resolves them against a concrete
DataFrame; it is the one place a ``CompiledRule`` is made.

Row-dict → DataFrame semantic notes (documented deviations):

- The reference distinguishes a *missing key* from an explicit ``None``
  (``rules.py:361-372`` vs ``rules.py:374-384``). A DataFrame cannot:
  missing keys in ragged JSON read as null. ``required_fields``
  therefore supports two modes: ``static`` (column existence — exact
  parity for fixed-schema tables) and ``null`` (null counts as missing).
- Exception-in-rule counts as *failed* (``rules.py:69-76``); compiled
  expressions cannot raise per-row, so constructs that would raise in
  the reference (e.g. ``len(None)``) compile to ``lit(False)`` /
  null-handling branches with matching verdicts.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    NumericType,
    StringType,
    StructType,
)

from datacheck_spark.schema import Severity, ValidationSchema
from datacheck_spark.rules import text as T


@dataclass
class CompiledRule:
    """A rule resolved against a concrete DataFrame.

    ``passed`` is a non-null boolean Column: True ⇒ the row passes.
    ``observed`` is an optional string Column recorded in the violations
    table (the ``observed`` field of
    ``(conv_id, turn_idx, rule_id, observed)``).
    """

    rule_id: str
    name: str
    severity: Severity
    passed: Column
    observed: Optional[Column] = None


#: A rule's Columns: ``passed`` (null counts as failed) and the
#: optional ``observed`` payload.
RuleColumns = Tuple[Column, Optional[Column]]

#: A builder resolves a rule against (df, schema) to its Columns;
#: returning None means the rule does not apply to this DataFrame
#: (treated as all-pass, like the reference's vacuous passes).
RuleBuilder = Callable[[DataFrame, ValidationSchema], Optional[RuleColumns]]


@dataclass
class RuleDef:
    """A rule written once (reference ``Rule``, ``rules.py:47-76``): its
    id, name and severity, and a builder returning only its Columns
    ``(passed, observed)``. A ``None`` builder is a dataset-level
    placeholder that compiles to nothing."""

    rule_id: str
    name: str
    severity: Severity
    builder: Optional[RuleBuilder]
    enabled: bool = True


class RuleSet:
    """Ordered collection of rule definitions (reference ``rules.py:99``)."""

    def __init__(self, name: str = "default", load_builtins: bool = True):
        self.name = name
        self.rules: Dict[str, RuleDef] = {}
        if load_builtins:
            for rd in builtin_rule_defs():
                self.add_rule(rd)

    def add_rule(self, rule: RuleDef) -> None:
        self.rules[rule.rule_id] = rule

    def remove_rule(self, rule_id: str) -> None:
        self.rules.pop(rule_id, None)

    def enable_rule(self, rule_id: str, enabled: bool = True) -> None:
        if rule_id in self.rules:
            self.rules[rule_id].enabled = enabled

    def get_enabled_rules(self) -> List[RuleDef]:
        return [r for r in self.rules.values() if r.enabled]

    def compile(
        self, df: DataFrame, schema: Optional[ValidationSchema] = None
    ) -> List[CompiledRule]:
        """Resolve all enabled rules against a DataFrame: each builder's
        ``(passed, observed)`` Columns become a ``CompiledRule`` under
        the id, name and severity of its ``RuleDef``.

        Disabled rules and rules without builders (dataset-level
        placeholders like ``no_duplicates``, ``rules.py:143-152``) are
        skipped; builders returning None are skipped (vacuous pass —
        they contribute no failures, identical outcome to an all-pass
        column without wasting compute). ``passed`` is made non-null
        here, for every suite: a row the rule cannot decide (null)
        fails, as a raising check fails in the reference
        (``rules.py:69-76``), and downstream aggregation never sees
        three-valued logic.
        """
        schema = schema or ValidationSchema()
        out: List[CompiledRule] = []
        for rd in self.get_enabled_rules():
            built = rd.builder(df, schema) if rd.builder else None
            if built is not None:
                passed, observed = built
                out.append(
                    CompiledRule(
                        rd.rule_id,
                        rd.name,
                        rd.severity,
                        F.coalesce(passed, F.lit(False)),
                        observed,
                    )
                )
        return out


# --- helpers --------------------------------------------------------------


def string_columns(df: DataFrame, exclude: Sequence[str] = ()) -> List[str]:
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, StringType) and f.name not in exclude
    ]


def _and_all(cols: List[Column]) -> Column:
    return reduce(lambda a, b: a & b, cols) if cols else F.lit(True)


def _per_column(failures: List[Tuple[Column, Column]]) -> RuleColumns:
    """A rule over several columns, each stated once as ``(failed,
    label)``: the row passes when no column failed; ``observed`` joins
    the failing columns' labels with commas (nulls skipped)."""
    passed = _and_all([~failed for failed, _ in failures])
    observed = F.concat_ws(
        ",", *[F.when(failed, label) for failed, label in failures]
    )
    return passed, observed


def _observed_text(df: DataFrame, limit: int = 120) -> Optional[Column]:
    """Default observed payload: snippet of the first content-bearing
    string column (id/metadata excluded)."""
    cols = string_columns(df, exclude=("id", "metadata")) or string_columns(df)
    if not cols:
        return None
    return F.substring(F.coalesce(*[F.col(c) for c in cols]), 1, limit)


# --- builtin rule builders (reference rules.py:107-221, §2.2) -------------


def _required_fields(df: DataFrame, schema: ValidationSchema):
    """Every declared required field must be present (``rules.py:361-372``).

    Parity mode: key presence is *static* in a fixed-schema DataFrame, so
    a missing column fails the rule for every row (compile-time
    ``lit(False)``) and present columns pass regardless of null.
    """
    if not schema.fields:
        return None
    missing = [
        f.name
        for f in schema.fields
        if f.required and f.name not in df.columns
    ]
    return (
        F.lit(not missing),
        F.lit(",".join(sorted(missing)) or None).cast("string"),
    )


def _non_empty(df: DataFrame, schema: ValidationSchema):
    """No string field (except id/metadata) may be blank
    (``rules.py:374-384``). Null passes — the reference only checks
    values that are ``str``."""
    cols = string_columns(df, exclude=("id", "metadata"))
    if not cols:
        return None
    return _per_column(
        [
            (F.col(c).isNotNull() & T.py_blank(F.col(c)), F.lit(c))
            for c in cols
        ]
    )


def _length_bounds(df: DataFrame, schema: ValidationSchema):
    """All string fields within [min_length, max_length]
    (``rules.py:386-399``); null passes."""
    cols = string_columns(df)
    if not cols:
        return None
    return _per_column(
        [
            (
                F.col(c).isNotNull()
                & ~F.length(F.col(c)).between(
                    schema.min_length, schema.max_length
                ),
                F.concat(F.lit(f"{c}="), F.length(F.col(c)).cast("string")),
            )
            for c in cols
        ]
    )


def _spark_type_matches(dtype: DataType, declared: str) -> bool:
    """isinstance-equivalence between a Spark column type and the
    reference's declared types (``rules.py:414-422``)."""
    if declared == "number":
        return isinstance(dtype, NumericType)
    if declared == "list":
        return isinstance(dtype, ArrayType)
    if declared == "json":
        return isinstance(dtype, (MapType, StructType, ArrayType))
    return True  # "text" and unknown types are never checked


def _format_valid(df: DataFrame, schema: ValidationSchema):
    """Declared-type conformance (``rules.py:401-424``).

    The reference checks ``isinstance`` per value: a string "5" fails a
    ``number`` field, and ``None`` fails number/list/json fields. In a
    typed DataFrame the column type is static: a mismatched column type
    fails all rows; a matching type fails only nulls.
    """
    checked = [
        f
        for f in schema.fields
        if f.name in df.columns and f.type in ("number", "list", "json")
    ]
    if not checked:
        return None
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    per_field = []
    for f in checked:
        if _spark_type_matches(dtypes[f.name], f.type):
            per_field.append(F.col(f.name).isNotNull())
        else:
            per_field.append(F.lit(False))
    return _and_all(per_field), None


SCORE_KEYS = ["score", "rating", "label", "grade"]  # rules.py:438


def _score_valid(df: DataFrame, schema: ValidationSchema):
    """Score-ish fields must be in the rubric's score set
    (``rules.py:426-444``); vacuous pass without a rubric; null passes."""
    if not schema.scoring_rubric:
        return None
    present = [k for k in SCORE_KEYS if k in df.columns]
    if not present:
        return None
    valid = [s for s in schema.valid_scores if s is not None]
    return _per_column(
        [
            (
                F.col(k).isNotNull() & ~F.col(k).isin(valid),
                F.concat(F.lit(f"{k}="), F.col(k).cast("string")),
            )
            for k in present
        ]
    )


def _pii_detection(df: DataFrame, schema: ValidationSchema):
    """No string field may contain PII (``text_rules.py:107-116``)."""
    cols = string_columns(df)
    if not cols:
        return None
    return _per_column([(~T.pii_clean(F.col(c)), F.lit(c)) for c in cols])


def _garbled_text(df: DataFrame, schema: ValidationSchema):
    cols = string_columns(df)
    if not cols:
        return None
    return (
        _and_all([T.garbled_clean(F.col(c)) for c in cols]),
        _observed_text(df),
    )


def _repetitive_text(df: DataFrame, schema: ValidationSchema):
    cols = string_columns(df)
    if not cols:
        return None
    return (
        _and_all([T.repetitive_clean(F.col(c)) for c in cols]),
        _observed_text(df),
    )


def _language_consistency(df: DataFrame, schema: ValidationSchema):
    cols = string_columns(df)
    if not cols:
        return None
    return (
        T.language_consistent([F.col(c) for c in cols]),
        _observed_text(df),
    )


def builtin_rule_defs() -> List[RuleDef]:
    """The default ruleset (reference ``rules.py:107-221``)."""
    return [
        RuleDef("required_fields", "required fields", Severity.ERROR, _required_fields),
        RuleDef("non_empty", "non-empty fields", Severity.ERROR, _non_empty),
        RuleDef("length_bounds", "length bounds", Severity.WARNING, _length_bounds),
        # dataset-level placeholder, disabled (rules.py:143-152)
        RuleDef("no_duplicates", "no duplicates", Severity.WARNING, None, enabled=False),
        RuleDef("format_valid", "format valid", Severity.ERROR, _format_valid),
        RuleDef("score_valid", "score valid", Severity.ERROR, _score_valid),
        RuleDef(
            "language_consistency",
            "language consistency",
            Severity.INFO,
            _language_consistency,
        ),
        RuleDef("pii_detection", "PII detection", Severity.WARNING, _pii_detection),
        RuleDef("garbled_text", "garbled text", Severity.WARNING, _garbled_text),
        RuleDef(
            "repetitive_text", "repetitive text", Severity.WARNING, _repetitive_text
        ),
    ]


# --- preset rulesets (reference rules.py:450-578, §2.4) -------------------


def _col_or_empty(df: DataFrame, name: str) -> Column:
    """``data.get(name, "")`` equivalent; missing column ⇒ empty string."""
    if name in df.columns:
        return F.coalesce(F.col(name).cast("string"), F.lit(""))
    return F.lit("")


def get_sft_ruleset() -> RuleSet:
    """default + instruction/response quality (``rules.py:450-475``)."""
    rs = RuleSet("sft")

    def _min_length(name: str, n: int) -> RuleBuilder:
        def build(df, schema):
            text = _col_or_empty(df, name)
            return F.length(text) >= n, text

        return build

    rs.add_rule(
        RuleDef(
            "instruction_quality",
            "instruction quality",
            Severity.WARNING,
            _min_length("instruction", 10),
        )
    )
    rs.add_rule(
        RuleDef(
            "response_quality",
            "response quality",
            Severity.WARNING,
            _min_length("response", 20),
        )
    )
    return rs


def get_preference_ruleset() -> RuleSet:
    """default + chosen != rejected (``rules.py:561-578``).

    Python ``None != None`` is False ⇒ two missing/null values FAIL,
    matching ``~eqNullSafe``.
    """
    rs = RuleSet("preference")

    def _different(df, schema):
        chosen = F.col("chosen") if "chosen" in df.columns else F.lit(None)
        rejected = F.col("rejected") if "rejected" in df.columns else F.lit(None)
        return ~chosen.eqNullSafe(rejected), None

    rs.add_rule(
        RuleDef(
            "chosen_rejected_different",
            "chosen/rejected different",
            Severity.ERROR,
            _different,
        )
    )
    return rs


def _truthy(df: DataFrame, name: str) -> Column:
    """``bool(data.get(name))`` — null, empty string, and 0 are falsy."""
    if name not in df.columns:
        return F.lit(False)
    c = F.col(name)
    dtype = dict((f.name, f.dataType) for f in df.schema.fields)[name]
    if isinstance(dtype, NumericType):
        return c.isNotNull() & (c != 0)
    return c.isNotNull() & (F.length(c.cast("string")) > 0)


def get_annotation_ruleset() -> RuleSet:
    """Annotation-result ruleset (``rules.py:501-558``): disables
    non_empty/length_bounds/required_fields/format_valid; adds task-id,
    timestamp, and value-exists checks."""
    rs = RuleSet("annotation")
    for rid in ("non_empty", "length_bounds", "required_fields", "format_valid"):
        rs.enable_rule(rid, False)

    def _value_exists(df, schema):
        # reference checks key presence (rules.py:541-544); DataFrame
        # equivalent: any of the annotation columns is non-null.
        names = ["score", "choice", "choices", "text", "ranking"]
        present = [F.col(n).isNotNull() for n in names if n in df.columns]
        passed = reduce(lambda a, b: a | b, present) if present else F.lit(False)
        return passed, None

    rs.add_rule(
        RuleDef(
            "annotation_task_id",
            "annotation task id",
            Severity.ERROR,
            lambda df, schema: (_truthy(df, "task_id"), None),
        )
    )
    rs.add_rule(
        RuleDef(
            "annotation_timestamp",
            "annotation timestamp",
            Severity.WARNING,
            lambda df, schema: (_truthy(df, "annotated_at"), None),
        )
    )
    rs.add_rule(
        RuleDef(
            "annotation_value_exists", "annotation value exists", Severity.ERROR, _value_exists
        )
    )
    return rs


# --- YAML rule compiler (reference rules.py:223-339, §2.3) ----------------


def _config_check_column(
    df: DataFrame, field_name: str, check_type: str, rule_def: Dict[str, Any]
) -> Column:
    """Compile one YAML check to a pass-Column.

    Mirrors ``_build_config_check_fn`` (``rules.py:262-339``) including
    its quirks (see each branch). ``data.get(field)`` on a DataFrame:
    missing column ⇒ null literal.
    """
    has_col = field_name in df.columns
    c = F.col(field_name) if has_col else F.lit(None)
    dtype = (
        {f.name: f.dataType for f in df.schema.fields}.get(field_name)
        if has_col
        else None
    )
    is_stringy = dtype is None or isinstance(dtype, StringType)
    is_arrayish = isinstance(dtype, (ArrayType, MapType))

    if check_type == "required":
        # key presence is static in a fixed-schema DataFrame
        return F.lit(has_col)

    if check_type == "non_empty":
        # None fails; blank string fails (rules.py:270-279); the
        # reference uses str.strip() → full Unicode whitespace set
        s = c.cast("string")
        return c.isNotNull() & ~(s.isNotNull() & T.py_blank(s))

    if check_type in ("min_length", "max_length"):
        # reference: len(value) — works for str/list/dict, raises (→
        # fail) for numbers/bools (rules.py:281-291 + rules.py:69-76)
        default = 1 if check_type == "min_length" else 100000
        v = rule_def.get("value", default)
        if is_arrayish:
            ln = F.when(c.isNull(), F.lit(0)).otherwise(F.size(c))
        elif is_stringy:
            ln = F.length(F.coalesce(c.cast("string"), F.lit("")))
        else:
            # len() raises on non-sized values → exception → failed;
            # null keeps the len("")=0 missing-key semantics
            return F.when(
                c.isNull(), F.lit(0 >= v if check_type == "min_length" else True)
            ).otherwise(F.lit(False))
        return ln >= v if check_type == "min_length" else ln <= v

    if check_type == "regex":
        # pattern.search raises on non-str values → fail (rules.py:293-297)
        pattern = rule_def.get("pattern", ".*")
        if not is_stringy:
            return F.when(
                c.isNull(), F.lit("").rlike(pattern)
            ).otherwise(F.lit(False))
        return F.coalesce(c.cast("string"), F.lit("")).rlike(pattern)

    if check_type == "enum":
        allowed = list(rule_def.get("values", []))
        if not allowed:
            return F.lit(False)  # `x in set()` is always False
        return F.coalesce(c.isin(allowed), F.lit(False))

    if check_type == "conditional_required":
        cond = rule_def["condition"]
        cond_col = (
            F.col(cond["field"]) if cond["field"] in df.columns else F.lit(None)
        )
        cond_expr = _eval_condition_column(
            cond_col, cond["operator"], cond["value"]
        )
        target_ok = c.isNotNull() & ~T.py_blank(c.cast("string"))
        return F.when(cond_expr, target_ok).otherwise(F.lit(True))

    if check_type == "number_range":
        mn, mx = rule_def.get("min"), rule_def.get("max")
        # try_cast: ANSI mode (Spark 4 default) makes a failed cast
        # throw; the reference's float(value) failure must mean False
        d = c.try_cast("double")
        in_range = F.lit(True)
        if mn is not None:
            in_range = in_range & (d >= mn)
        if mx is not None:
            in_range = in_range & (d <= mx)
        return F.when(c.isNull(), F.lit(True)).otherwise(
            F.when(d.isNull(), F.lit(False)).otherwise(in_range)
        )

    # --- beyond-reference: semi-structured (JSON-string) checks --------
    # Agent/transcript tables routinely carry JSON payload columns
    # (tool args, metadata); these stay native Column exprs
    # (try_parse_json / get_json_object), never Python.

    if check_type == "json_valid":
        # null / non-JSON text fails; any valid JSON document passes
        s = c.cast("string")
        return F.coalesce(F.try_parse_json(s).isNotNull(), F.lit(False))

    if check_type == "json_path":
        # path (e.g. "$.k") must exist; with min/max the extracted
        # value must also parse as a number in the closed range. Null
        # field or missing path fails.
        path = rule_def.get("path", "$")
        s = c.cast("string")
        v = F.get_json_object(s, path)
        ok = v.isNotNull()
        mn, mx = rule_def.get("min"), rule_def.get("max")
        if mn is not None or mx is not None:
            d = v.try_cast("double")
            ok = ok & d.isNotNull()
            if mn is not None:
                ok = ok & (d >= mn)
            if mx is not None:
                ok = ok & (d <= mx)
        return F.coalesce(ok, F.lit(False))

    raise ValueError(f"unknown check type: {check_type}")


def _eval_condition_column(val: Column, operator: str, target: Any) -> Column:
    """Compile ``_eval_condition`` (``rules.py:79-96``) faithfully.

    Quirks preserved: null ⇒ False; when either side fails float
    coercion the comparison degrades to string equality *ignoring the
    operator*; and because the reference converts ``val`` before
    ``target`` in the same try-block, a coercible val with a
    non-coercible target compares ``str(float(val)) == str(target)``.
    """
    try:
        target_f = float(target)
        target_coercible = True
    except (TypeError, ValueError):
        target_coercible = False

    val_d = val.try_cast("double")  # ANSI-safe: failed coercion -> null
    if target_coercible:
        ops = {
            ">": val_d > target_f,
            ">=": val_d >= target_f,
            "<": val_d < target_f,
            "<=": val_d <= target_f,
            "==": val_d == target_f,
            "!=": val_d != target_f,
        }
        numeric = ops.get(operator, F.lit(False))
        fallback = val.cast("string") == F.lit(str(target))
    else:
        # str(float(val)) when val coerces, else str(val)
        val_as_pyfloat_str = F.when(
            val_d.isNotNull(), val_d.cast("string")
        ).otherwise(val.cast("string"))
        numeric = F.lit(None).cast("boolean")  # never taken
        fallback = val_as_pyfloat_str == F.lit(str(target))

    if target_coercible:
        cmp = F.when(val_d.isNotNull(), numeric).otherwise(fallback)
    else:
        cmp = fallback
    return F.when(val.isNull(), F.lit(False)).otherwise(cmp)


KNOWN_CHECK_TYPES = {
    "required", "non_empty", "min_length", "max_length", "regex",
    "enum", "conditional_required", "number_range",
    # beyond-reference: semi-structured JSON-string payload checks
    "json_valid", "json_path",
}


def ruleset_from_config(
    config: Dict[str, Any], name: str = "config", load_builtins: bool = True
) -> RuleSet:
    """Build a RuleSet from a parsed YAML/JSON config dict
    (``rules.py:223-260``). Rule ids follow the reference pattern
    ``config_{field}_{check}_{i}``; ``message`` becomes the rule name.
    Unknown check types raise at load time (``rules.py:338-339``).

    ``load_builtins=True`` matches the reference (``from_config``
    instantiates the RuleSet with its builtin rules); pass False to get
    ONLY the config's rules — e.g. to enforce a
    :func:`datacheck_spark.suggest.suggest_rules` config standalone.
    """
    rs = RuleSet(name=config.get("name", name), load_builtins=load_builtins)
    for i, rule_def in enumerate(config.get("rules", [])):
        field_name = rule_def["field"]
        check_type = rule_def["check"]
        if check_type not in KNOWN_CHECK_TYPES:
            raise ValueError(f"unknown check type: {check_type}")
        severity = Severity(rule_def.get("severity", "warning"))
        enabled = rule_def.get("enabled", True)
        rule_id = f"config_{field_name}_{check_type}_{i}"
        rule_name = rule_def.get("message", f"{field_name} {check_type}")

        def _builder(
            df: DataFrame,
            schema: ValidationSchema,
            _fn=field_name,
            _ct=check_type,
            _rd=dict(rule_def),
        ):
            obs = (
                F.col(_fn).cast("string") if _fn in df.columns else F.lit(None).cast("string")
            )
            return _config_check_column(df, _fn, _ct, _rd), obs

        rs.add_rule(RuleDef(rule_id, rule_name, severity, _builder, enabled))
    return rs


def ruleset_from_yaml(path: str) -> RuleSet:
    """Load a YAML rules file (reference ``rules.py:223-260``)."""
    import yaml

    with open(path, "r", encoding="utf-8") as f:
        config = yaml.safe_load(f)
    from pathlib import Path

    return ruleset_from_config(config, name=Path(path).stem)


# --- ruleset names (reference cli.py --ruleset, mcp_server.py ruleset) ----

#: the one name → preset map. ``llm`` compiles the builtins; ``check
#: --ruleset llm`` adds its judge rule after the fused pass.
_PRESETS: Dict[str, Callable[[], RuleSet]] = {
    "default": RuleSet,
    "llm": RuleSet,
    "sft": get_sft_ruleset,
    "preference": get_preference_ruleset,
    "annotation": get_annotation_ruleset,
}
RULESET_NAMES = tuple(_PRESETS)


def resolve_ruleset(
    name: Optional[str] = None, rules_file: Optional[str] = None
) -> RuleSet:
    """The RuleSet a ruleset name (None = ``default``) and an optional
    YAML ``rules_file`` stand for; the file wins over the name. An
    unknown name raises ``ValueError`` naming the valid ones."""
    name = name or "default"
    if name not in _PRESETS:
        raise ValueError(
            f"unknown ruleset {name!r}; valid: {', '.join(RULESET_NAMES)}"
        )
    return ruleset_from_yaml(rules_file) if rules_file else _PRESETS[name]()
