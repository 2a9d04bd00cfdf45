"""Schemas, severities, and rule-spec dataclasses.

Reference semantics: severity triage in
``/root/reference/src/datacheck/rules.py:9-14`` (ERROR/WARNING/INFO; only
ERROR fails a sample, ``checker.py:126-134``) and the declared-schema dict
shape in ``/root/reference/tests/test_checker.py:12-24``.

The primary production table is the transcripts table from
``BASELINE.json`` ``input_hint``:
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``.
"""

from __future__ import annotations

import enum
import json
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional

from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


class Severity(str, enum.Enum):
    """Rule severity. Only ERROR-severity failures fail a sample."""

    ERROR = "error"
    WARNING = "warning"
    INFO = "info"


#: The authoritative transcript table shape (BASELINE.json input_hint).
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), True),
        StructField("turn_idx", IntegerType(), True),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

#: Valid role vocabulary for the transcripts referential/enum check.
TRANSCRIPT_ROLES = ["user", "assistant", "system", "tool"]


@dataclass
class FieldSpec:
    """Declared field in a validation schema.

    Mirrors the reference's ``schema["fields"]`` entries
    (``rules.py:361-424``): ``type`` in {text, number, list, json},
    ``required`` defaults True.
    """

    name: str
    type: str = "text"
    required: bool = True


@dataclass
class ValidationSchema:
    """Declared validation schema (the reference's plain-dict schema).

    ``constraints.min_length``/``max_length`` default 1/100000
    (``rules.py:392-393``); ``scoring_rubric`` is a list of
    ``{"score": v, ...}`` dicts (``rules.py:426-444``).
    """

    fields: List[FieldSpec] = field(default_factory=list)
    min_length: int = 1
    max_length: int = 100000
    scoring_rubric: List[Dict[str, Any]] = field(default_factory=list)

    @classmethod
    def from_dict(cls, d: Optional[Dict[str, Any]]) -> "ValidationSchema":
        d = d or {}
        constraints = d.get("constraints", {})
        return cls(
            fields=[
                FieldSpec(
                    name=f.get("name"),
                    type=f.get("type", "text"),
                    required=f.get("required", True),
                )
                for f in d.get("fields", [])
                if f.get("name")
            ],
            min_length=constraints.get("min_length", 1),
            max_length=constraints.get("max_length", 100000),
            scoring_rubric=d.get("scoring_rubric", []),
        )

    @classmethod
    def from_file(cls, path: str) -> "ValidationSchema":
        """Read a schema JSON file (the ``--schema`` / ``schema_path``
        argument of every command and tool)."""
        with open(path, "r", encoding="utf-8") as f:
            return cls.from_dict(json.load(f))

    @property
    def valid_scores(self) -> set:
        return {r.get("score") for r in self.scoring_rubric}
