"""Synthetic transcripts table + the flagship transcript check pipeline.

The production target (BASELINE.json ``input_hint``) is an Iceberg table
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` at 10^12 turns. This module provides:

- ``generate_transcripts``: a fully *distributed, deterministic* synthetic
  generator (seeded xxhash64 column expressions — no Python RNG, no
  wall-clock, no driver-side loops) with planted violations per
  FIXTURES.md F1: blank/null text, PII, garbled bytes, repetition,
  oversized turns, invalid roles, orphan tools, duplicate
  ``(conv_id, turn_idx)`` keys, and hot (skewed) conversations.
- ``TranscriptChecker``: the fused rule suite + uniqueness + referential
  + anomaly pipeline over a transcripts DataFrame — the engine's
  flagship end-to-end path used by ``__spark_entry__.entry`` and the
  ``perfbench`` ``transcripts`` workload.

Scale design: the generator emits ``conv_bucket`` (hash bucket of
conv_id) so writes can be partitioned the way the north rule prescribes
(``bucket(N, conv_id)`` + ``days(ts)``); the checker never collects row
data — only aggregate rows and bounded violation samples.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from functools import reduce
from typing import Any, Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datacheck_spark.schema import Severity, TRANSCRIPT_ROLES, ValidationSchema
from datacheck_spark.engine import ValidationEngine, _unpivot, rollup
from datacheck_spark.rules.compiler import RuleDef, RuleSet
from datacheck_spark.rules import text as T

_WORDS = [
    "data", "check", "spark", "table", "query", "join", "group", "filter",
    "window", "stream", "batch", "merge", "sort", "hash", "scan", "agg",
    "row", "column", "value", "key", "index", "cache", "shuffle", "stage",
]

_ZH = "数据质量检查引擎在大规模对话转录表上运行良好"

#: deterministic epoch for ts generation (no wall-clock)
_EPOCH = "2026-01-01 00:00:00"

TOOL_VOCAB = [f"tool_{i}" for i in range(8)]

#: generator role cycle — ``tool`` directly follows ``assistant`` so
#: un-planted turns satisfy the tool-pairing structure rule; planted
#: invalid roles / duplicate rows are what trip it
_ROLE_CYCLE = ["user", "assistant", "tool", "system"]

#: bump when generate_transcripts' output changes for the same inputs —
#: cached bench tables are keyed on it so a stale cache can never be
#: silently reused (v2: role cycle reordered for tool pairing; tool
#: turns always named)
GEN_VERSION = 2


def _h(*cols, seed: int) -> Column:
    """Seeded 64-bit hash of the given columns; non-negative."""
    return F.abs(F.xxhash64(*cols, F.lit(seed)))


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    turns_per_conv: int = 10,
    n_hot_convs: int = 2,
    hot_factor: int = 100,
    seed: int = 42,
    n_buckets: int = 32,
) -> DataFrame:
    """Deterministic synthetic transcripts with planted violations.

    Violation plants (FIXTURES.md F1), selected by seeded hash buckets
    per (conv, turn) so expected counts are exactly recomputable:

    - bucket 0-9    (~1.0%): null or blank text        → non_empty
    - bucket 10-19  (~1.0%): PII (email/phone/id)      → pii_detection
    - bucket 20-24  (~0.5%): control chars / mojibake  → garbled_text
    - bucket 25-29  (~0.5%): repeated sentence ×50     → repetitive_text
    - bucket 30-32  (~0.3%): 5000-char turn            → length anomaly
    - role bucket 0-1 of 1000 (~0.2%): invalid role    → role_valid
    - tool bucket 0-1 of 1000 (~0.2%): orphan tool     → referential
    - dup bucket 0-4 of 1000 (~0.5%): row duplicated   → uniqueness
    """
    conv = spark.range(n_convs).select(F.col("id").alias("cid"))
    turns = F.when(
        F.col("cid") < n_hot_convs, turns_per_conv * hot_factor
    ).otherwise(
        # 2..2*turns_per_conv, deterministic per conv
        2 + F.pmod(_h(F.col("cid"), seed=seed + 1), 2 * turns_per_conv - 1)
    )
    base = conv.select(
        "cid", F.explode(F.sequence(F.lit(0), turns - 1)).alias("turn_idx")
    )

    cid, turn = F.col("cid"), F.col("turn_idx")
    bucket = F.pmod(_h(cid, turn, seed=seed), 1000)  # plant selector
    word = lambda k: F.element_at(  # noqa: E731
        F.array(*[F.lit(w) for w in _WORDS]),
        (F.pmod(_h(cid, turn, F.lit(k), seed=seed + 2), len(_WORDS)) + 1).cast(
            "int"
        ),
    )
    normal_text = F.concat_ws(" ", *[word(k) for k in range(12)])

    text = (
        F.when(bucket < 5, F.lit(None).cast("string"))
        .when(bucket < 10, F.lit("   "))
        .when(bucket < 14, F.concat(F.lit("contact user"), cid.cast("string"), F.lit("@example.com soon")))
        .when(bucket < 17, F.concat(F.lit("call 138"), F.lpad(F.pmod(_h(cid, turn, seed=seed + 3), 100000000).cast("string"), 8, "0"), F.lit(" now")))
        .when(bucket < 20, F.lit("id is 110101199001011234 ok"))
        .when(bucket < 25, F.concat(F.lit("bad\x00\x01\x02\x03 bytes here "), normal_text))
        .when(bucket < 30, F.repeat(F.lit("This is repeated. "), 50))
        .when(bucket < 33, F.repeat(F.lit("x"), 5000))
        .when(bucket < 38, F.concat(F.lit(_ZH), F.lit(" "), normal_text))
        .otherwise(normal_text)
    )

    role_bucket = F.pmod(_h(cid, turn, seed=seed + 4), 1000)
    role = F.when(role_bucket < 2, F.lit("robot")).otherwise(
        F.element_at(
            F.array(*[F.lit(r) for r in _ROLE_CYCLE]),
            (F.pmod(turn, 4) + 1).cast("int"),
        )
    )

    tool_bucket = F.pmod(_h(cid, turn, seed=seed + 5), 1000)
    tool = (
        F.when(
            tool_bucket < 2,
            F.concat(F.lit("tool_zz_"), F.pmod(tool_bucket, 7).cast("string")),
        )
        .when(
            role == "tool",
            F.element_at(
                F.array(*[F.lit(t) for t in TOOL_VOCAB]),
                (F.pmod(tool_bucket, len(TOOL_VOCAB)) + 1).cast("int"),
            ),
        )
        .otherwise(F.lit(None).cast("string"))
    )

    ts = F.to_timestamp(F.lit(_EPOCH)) + F.make_dt_interval(
        F.pmod(cid, 30).cast("int"),  # spread over 30 days
        F.lit(0),
        F.lit(0),
        turn.cast("double") * 7.0,  # monotone within conversation
    )

    df = base.select(
        F.format_string("conv_%06d", cid).alias("conv_id"),
        turn.cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        ts.alias("ts"),
        bucket.alias("__plant"),
        F.pmod(_h(cid, turn, seed=seed + 6), 1000).alias("__dup"),
    )

    dups = df.where(F.col("__dup") < 5)  # ~0.5% duplicated keys
    out = df.unionAll(dups).drop("__plant", "__dup")
    return out.withColumn(
        "conv_bucket",
        F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"),
    )


def write_transcripts_partitioned(
    df: DataFrame,
    path: str,
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Write a transcripts table with the north-rule physical layout:
    partitioned by (conv_bucket, ts_day) — the parquet stand-in for
    Iceberg ``bucket(N, conv_id)`` + ``days(ts)`` partition transforms
    (an Iceberg catalog makes this a ``partitionedBy(bucket(...),
    days(ts))`` writeTo with no other change).

    Every conversation lands wholly inside one bucket partition, so
    per-conversation operators (uniqueness, sessionization, rollups)
    prune to a bucket slice, and day partitions give drift/backfill
    jobs time pruning."""
    # always (re)compute from conv_id so the layout honours n_buckets
    # even when the frame carries a conv_bucket built for a different N
    out = df.withColumn(
        "conv_bucket",
        F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"),
    ).withColumn("ts_day", F.to_date("ts"))
    (
        out.repartition(n_buckets, "conv_bucket")
        .write.mode(mode)
        .partitionBy("conv_bucket", "ts_day")
        .parquet(path)
    )


def per_bucket_verdicts(
    annotated: DataFrame,
    threshold: float = 0.95,
    bucket_col: str = "conv_bucket",
) -> DataFrame:
    """Per-partition pass/fail verdicts (the north-star contract:
    "emits ... exact per-partition pass/fail verdicts"): one row per
    conv_id hash bucket with totals, ERROR-failure count, pass rate,
    and the boolean verdict against ``threshold``: columns of the
    engine's ``rollup(annotated, (), by=[bucket_col])``, one
    partial+final aggregation. At 10^12 turns this is the per-partition
    quality scoreboard, computed from the rows alone (no manifest or
    store is read or written)."""
    rate = (F.col("__total") - F.col("__failed")) / F.col("__total")
    return rollup(annotated, (), by=[bucket_col]).select(
        bucket_col,
        F.col("__total").alias("total"),
        F.col("__failed").alias("failed"),
        F.round(rate, 6).alias("pass_rate"),
        (rate >= threshold).alias("passed"),
    )


def per_day_verdicts(
    annotated: DataFrame,
    threshold: float = 0.95,
    ts_col: str = "ts",
    utc_day_number: bool = False,
) -> DataFrame:
    """Per ts-day pass/fail verdicts — the second partitioning
    dimension the north rule names ("explicit partitioning on conv_id
    hash buckets + ts days"): one row per calendar day of ``ts_col``
    with the same totals / pass-rate / threshold verdict as
    :func:`per_bucket_verdicts`.

    ``utc_day_number=True`` keys days by the UTC epoch-day number
    (``floor(unix_seconds / 86400)`` as bigint) instead of
    ``to_date`` — a pure function of the timestamp instant,
    independent of ``spark.sql.session.timeZone``, which is what a
    stored verdict and any cross-engine comparison should use.
    The default DATE key follows the session timezone (the natural
    reporting surface).

    The bucket verdicts over the day column, so the same one rollup;
    at 10^12 turns with ~10^3 distinct days the combine collapses to
    one tiny final exchange.
    """
    day = (
        F.floor(F.col(ts_col).cast("long") / F.lit(86400)).cast("long")
        if utc_day_number
        else F.to_date(ts_col)
    )
    return per_bucket_verdicts(
        annotated.withColumn("ts_day", day),
        threshold=threshold,
        bucket_col="ts_day",
    )


#: the columns of :func:`structure_summary` after ``conversations``:
#: how many conversations fail each verdict
_ROLLUP = (
    ("failing", "conv_pass"),
    ("non_contiguous", "contiguous"),
    ("role_repeats", "roles_alternate"),
    ("ts_regressions", "ts_monotonic"),
    ("unpaired_tool_convs", "tool_turns_paired"),
    ("empty_assistant_convs", "no_empty_assistant"),
)


def _structure_rules(df: DataFrame, ts_col: str):
    """The cross-turn rules, each written once: the text-free slim
    frame (see :func:`_structure_slim_cols`) with the previous turn's
    turn_idx, role and ts from ONE lag window on (conv_id; turn_idx,
    role, ts), and a list of ``(rule_id, verdict, condition,
    observed)`` over that frame, where ``verdict`` names the column of
    :func:`conversation_structure` that the rule fails.

    Every rule anchors at one turn; a pair rule anchors at the LATER
    turn of the offending pair and ``observed`` records the prev→cur
    values. ``turn_start`` fires on the first non-null turn_idx of a
    conversation when it is not 0 (nulls sort first, so that is the
    one row whose ``prev_idx`` is null and ``turn_idx`` is not).
    Conditions may be null; a null condition has not fired."""
    w = Window.partitionBy("conv_id").orderBy(
        F.col("turn_idx").asc(), F.col("role").asc(), F.col(ts_col).asc()
    )
    # each lag computed once, however many rules read it
    framed = df.select(*_structure_slim_cols(df, ts_col)).select(
        "*",
        F.lag("turn_idx").over(w).alias("__prev_idx"),
        F.lag("role").over(w).alias("__prev_role"),
        F.lag(ts_col).over(w).alias("__prev_ts"),
    )
    prev_idx, prev_role, prev_ts = (
        F.col("__prev_idx"), F.col("__prev_role"), F.col("__prev_ts")
    )
    idx, role, ts = F.col("turn_idx"), F.col("role"), F.col(ts_col)

    def obs(*parts):
        return F.concat_ws(
            "", *[F.lit(p) if isinstance(p, str) else p for p in parts]
        )

    return framed, [
        (
            "turn_start",
            "contiguous",
            prev_idx.isNull() & (idx != 0),
            obs("first turn_idx ", idx.cast("string"), " (expected 0)"),
        ),
        (
            "duplicate_turn",
            "contiguous",
            prev_idx.isNotNull() & (idx == prev_idx),
            obs("turn_idx ", idx.cast("string"), " repeats"),
        ),
        (
            "turn_gap",
            "contiguous",
            prev_idx.isNotNull() & (idx > prev_idx + 1),
            obs(
                "prev turn_idx ", prev_idx.cast("string"), " -> ",
                idx.cast("string"),
            ),
        ),
        (
            "role_repeat",
            "roles_alternate",
            prev_role.isNotNull() & (role == prev_role),
            obs("role ", role, " repeats"),
        ),
        (
            "ts_regression",
            "ts_monotonic",
            prev_ts.isNotNull() & (ts < prev_ts),
            obs("ts ", ts.cast("string"), " < prev ", prev_ts.cast("string")),
        ),
        (
            "unpaired_tool_turn",
            "tool_turns_paired",
            (role == "tool")
            & ~F.coalesce(prev_role == "assistant", F.lit(False)),
            obs("tool turn follows ", F.coalesce(prev_role, F.lit("start"))),
        ),
        (
            "empty_assistant_turn",
            "no_empty_assistant",
            F.col("__empty"),
            obs(
                "assistant text blank (len ",
                F.coalesce(F.col("__tlen").cast("string"), F.lit("null")),
                ")",
            ),
        ),
    ]


def conversation_structure(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Per-conversation structural verdicts over multi-turn transcripts
    (cross-turn rules the per-row fused pass cannot express). Each
    verdict is true when none of its rules of
    :func:`structure_violations` fired in the conversation:

    - ``contiguous``: turn_idx runs 0..n-1 with no gaps or duplicates
      (``turn_start``, ``duplicate_turn``, ``turn_gap``)
    - ``roles_alternate``: no two consecutive turns share a role
      (``role_repeat``)
    - ``ts_monotonic``: timestamps never regress along the turn order
      (``ts_regression``)
    - ``tool_turns_paired``: every ``tool``-role turn directly follows
      an ``assistant`` turn (``unpaired_tool_turn``; a tool result with
      no assistant call before it is an orphaned tool turn — the
      cross-turn counterpart of the tool-NAME referential check in
      :class:`TranscriptChecker`)
    - ``no_empty_assistant``: no ``assistant`` turn has null or
      whitespace-only text (``empty_assistant_turn``; an empty
      completion is a training-data defect even where blank user/tool
      turns might be tolerated)
    - ``conv_pass``: all of the above, i.e. the conversation has no
      violation row

    So every failing verdict has a violation row, and verdicts are
    never null: a conversation whose every turn_idx is null is
    ``contiguous`` (no rule can fire on a null turn_idx).
    ``no_empty_assistant`` needs the ``text`` column; when absent the
    flag is trivially true so the output schema is stable.

    Turn order is made stable with (turn_idx, role, ts) — the north
    rule's "stable turn ordering". This choice makes every verdict a
    pure function of the row MULTISET, with no payload tie-break
    needed: rows can only tie on (turn_idx, role), and within such a
    tie group (a) ``dup``/``gap``/``role_repeat``/``unpaired`` flag
    counts are invariant under any permutation (all group members
    share turn_idx and role, and the neighbouring rows are fixed),
    and (b) ordering the group by ts means no intra-group regression
    ever, while the group's boundary comparisons use its min/max ts —
    both order-free. Rows tying on all of (turn_idx, role, ts) have
    equal ts, so no flag can distinguish their arrangements either.

    Scale: ONE text-free shuffle. The text payload is reduced to the
    boolean ``__empty`` BEFORE the exchange (round-5 measurement at
    67M turns: dropping text from the window sort halves the pass,
    30.6s→15.0s at local[8]), the lag window partitions by conv_id,
    and the per-conversation aggregation reuses that hash
    partitioning (no second exchange; asserted in PLANS.md).
    Per-group window state is a single previous row, not a buffered
    conversation, so hot conversations (10^5 turns) stream through.
    At 10^12 turns this runs per conv_bucket partition exactly like
    the fused rule pass.
    """
    framed, rules = _structure_rules(df, ts_col)
    flags = framed.select(
        "conv_id",
        *[F.coalesce(c, F.lit(False)).alias(rid) for rid, _, c, _ in rules],
    )
    by_verdict: Dict[str, List[Column]] = {}
    for rid, verdict, _, _ in rules:
        by_verdict.setdefault(verdict, []).append(F.col(rid))
    agg = flags.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        *[
            (~F.bool_or(reduce(Column.__or__, fired))).alias(verdict)
            for verdict, fired in by_verdict.items()
        ],
    )
    return agg.select(
        "conv_id",
        "n_turns",
        *by_verdict,
        reduce(Column.__and__, map(F.col, by_verdict)).alias("conv_pass"),
    )


def _structure_slim_cols(df: DataFrame, ts_col: str) -> list:
    """Narrow pre-shuffle projection for the structure rules:
    ``(conv_id, turn_idx, role, ts, __empty, __tlen)`` — the text
    payload is reduced to the empty-assistant boolean (and its length,
    for violation ``observed`` strings) before the conv_id exchange,
    so the window sort never ships document bytes."""
    role = F.col("role")
    if "text" in df.columns:
        empty = F.coalesce(
            (role == "assistant")
            & (F.col("text").isNull() | T.py_blank(F.col("text"))),
            F.lit(False),
        )
        tlen = F.length("text")
    else:
        empty, tlen = F.lit(False), F.lit(None).cast("int")
    return [
        F.col("conv_id"),
        F.col("turn_idx"),
        role,
        F.col(ts_col),
        empty.alias("__empty"),
        tlen.alias("__tlen"),
    ]


def structure_violations(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Per-turn violation rows for the cross-turn structure rules, in
    the engine's violation-row shape ``(conv_id, turn_idx, rule_id,
    observed)`` (north rule: "violation rows (conv_id, turn_idx,
    rule_id, observed)").

    Rules: ``turn_start`` (the first non-null turn_idx is not 0),
    ``duplicate_turn`` (same turn_idx as the previous row),
    ``turn_gap`` (turn_idx jumps by >1), ``role_repeat`` (same role as
    the previous turn), ``ts_regression`` (timestamp earlier than the
    previous turn), ``unpaired_tool_turn`` (a ``tool`` turn whose
    previous turn is not an ``assistant`` turn), ``empty_assistant_turn``
    (an ``assistant`` turn with null/whitespace-only text). Each pair
    rule anchors at the LATER turn of the offending pair; ``observed``
    records the prev→cur values. A conversation fails a verdict of
    :func:`conversation_structure` exactly when it has a row here for
    one of that verdict's rules: both are built from the one rule list
    of ``_structure_rules``.

    Same single text-free shuffle shape as
    :func:`conversation_structure` — the lag window on the narrow
    pre-shuffle projection, then the engine's null-dropping unpivot
    (``engine._unpivot``, one codegen stage above the window); the
    output is ∝ violation rate, not input size. The emitted row multiset is
    order-deterministic for the same reason the verdicts are (see
    :func:`conversation_structure`): every ``observed`` string is
    built from turn_idx/role/ts/text-length, all invariant across
    (turn_idx, role)-tie arrangements under the ts tie-break.
    """
    framed, rules = _structure_rules(df, ts_col)
    return _unpivot(
        framed,
        ["conv_id", "turn_idx"],
        [
            F.when(
                cond,
                F.struct(
                    F.lit(rid).alias("rule_id"), obs.alias("observed")
                ),
            )
            for rid, _, cond, obs in rules
        ],
    ).select("conv_id", "turn_idx", "__v.rule_id", "__v.observed")


def _structure_rollup(verdicts: DataFrame) -> DataFrame:
    """One-row rollup of a :func:`conversation_structure` frame: the
    number of conversations and, per :data:`_ROLLUP` column, how many
    fail that verdict."""
    return verdicts.agg(
        F.count(F.lit(1)).alias("conversations"),
        *[
            F.sum((~F.col(verdict)).cast("long")).alias(name)
            for name, verdict in _ROLLUP
        ],
    )


def structure_summary(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """One-row rollup of :func:`conversation_structure`:
    ``conversations``, then ``failing`` (any verdict false),
    ``non_contiguous``, ``role_repeats``, ``ts_regressions``,
    ``unpaired_tool_convs`` and ``empty_assistant_convs`` (the
    conversations failing each verdict). The CLI's ``transcripts
    --structure`` prints it and the API's
    ``check_conversation_structure`` returns the same rollup as its
    ``summary``. The ``perfbench`` ``transcripts`` workload runs it
    with :meth:`TranscriptChecker.run` in each whole-table verdict, so
    the measured operation is the north-rule shape: per-row rules +
    cross-turn structure verdicts in one run."""
    return _structure_rollup(conversation_structure(df, ts_col=ts_col))


#: fingerprint field separator / null marker (control chars that the
#: generator never emits inside a field — and even against adversarial
#: text, each turn is md5-hashed BEFORE joining, so a separator inside
#: a field cannot splice two turns together)
_FP_SEP = "\x1f"
_FP_NULL = "\x01"


def conversation_fingerprint(df: DataFrame) -> DataFrame:
    """Order-insensitive exact fingerprint of each conversation's turn
    content: one row ``(conv_id, n_turns, conv_fp)`` per conversation.

    Each turn is rendered as ``turn_idx␟role␟text␟tool`` (nulls as a
    marker byte) and md5-hashed; the conversation fingerprint is the
    md5 of the turn hashes sorted lexicographically. Because
    ``turn_idx`` is inside the per-turn hash, the multiset of turn
    hashes IS the ordered conversation — two conversations collide iff
    every (turn_idx, role, text, tool) row matches. ``ts`` is excluded
    on purpose: a conversation re-logged at a different time is still
    the same conversation (the dedup this feeds is about content).

    Scale: ONE shuffle (the groupBy on conv_id). Aggregation state per
    conversation is the list of 32-char turn hashes — ~3 MB for a
    10^5-turn hot conversation — never the turn text itself.
    """
    cols = [
        F.coalesce(F.col("turn_idx").cast("string"), F.lit(_FP_NULL)),
        F.coalesce(F.col("role"), F.lit(_FP_NULL))
        if "role" in df.columns else F.lit(_FP_NULL),
        F.coalesce(F.col("text"), F.lit(_FP_NULL))
        if "text" in df.columns else F.lit(_FP_NULL),
        F.coalesce(F.col("tool"), F.lit(_FP_NULL))
        if "tool" in df.columns else F.lit(_FP_NULL),
    ]
    turn_hash = F.md5(F.concat_ws(_FP_SEP, *cols))
    return df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list(turn_hash)), "")
        ).alias("conv_fp"),
    )


def conversation_duplicates(
    df: DataFrame, max_ids: int = 5
) -> DataFrame:
    """Conversation-level exact duplicate groups: conversations whose
    entire ordered turn content (see :func:`conversation_fingerprint`)
    is identical. One row per duplicate group:
    ``(conv_fp, n_convs, n_turns, conv_ids)`` with ``conv_ids`` the
    first ``max_ids`` members in conv_id order, comma-joined (bounded —
    a pathological million-copy group ships 5 ids, not a million).

    Two shuffles total: conv_id groupBy (≈input size) then ONE conv_fp
    exchange shared by the count window, the row_number bound, and the
    final agg — over one row per conversation, ~1e3–1e5× smaller than
    the input. As in ``dedup.duplicate_groups``, ``row_number ≤
    max_ids`` runs BEFORE the collect_list (spillable window sort, no
    unbounded agg buffer), so a pathological million-copy group costs
    disk, never heap.
    """
    fp = conversation_fingerprint(df)
    w = Window.partitionBy("conv_fp")
    bounded = (
        fp.withColumn("n_convs", F.count(F.lit(1)).over(w))
        .withColumn(
            "__rn", F.row_number().over(w.orderBy(F.col("conv_id").asc()))
        )
        .where((F.col("n_convs") > 1) & (F.col("__rn") <= max_ids))
    )
    return bounded.groupBy("conv_fp", "n_convs").agg(
        F.min("n_turns").alias("n_turns"),
        F.array_join(
            F.sort_array(F.collect_list("conv_id")), ","
        ).alias("conv_ids"),
    ).select("conv_fp", "n_convs", "n_turns", "conv_ids")


def conversation_dedup_summary(df: DataFrame) -> DataFrame:
    """One-row rollup of conversation-level exact dedup over every
    conversation: ``conversations``, ``duplicate_groups`` (fingerprints
    shared by more than one conversation), ``duplicate_conversations``
    (the conversations in those groups) and ``removable_conversations``
    (all but one per group). The CLI's ``transcripts --conv-dedup``
    prints it and the API's ``dedup_conversations`` returns it as its
    ``summary``."""
    sizes = (
        conversation_fingerprint(df)
        .groupBy("conv_fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dup = F.col("n") > 1
    return sizes.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("conversations"),
        F.count(F.when(dup, 1)).alias("duplicate_groups"),
        F.coalesce(F.sum(F.when(dup, F.col("n"))), F.lit(0)).alias(
            "duplicate_conversations"
        ),
    ).withColumn(
        "removable_conversations",
        F.col("duplicate_conversations") - F.col("duplicate_groups"),
    )


# --- flagship pipeline ----------------------------------------------------


def transcript_rule_defs() -> List[RuleDef]:
    """Fused rule suite for the transcripts table: structural ERROR
    rules + text-quality WARNING rules scoped to the ``text`` column
    (the reference applies text rules to every string field of a
    sample; for transcripts the sample's content IS the text column).
    Each builder returns the rule's ``(passed, observed)`` Columns;
    ``RuleSet.compile`` names them."""

    def head():
        return F.substring(F.col("text"), 1, 80)

    return [
        RuleDef(
            "key_present", "conv_id/turn_idx present", Severity.ERROR,
            lambda df, s: (
                F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull(),
                None,
            ),
        ),
        RuleDef(
            "turn_idx_nonneg", "turn_idx >= 0", Severity.ERROR,
            lambda df, s: (
                F.col("turn_idx").isNull() | (F.col("turn_idx") >= 0),
                F.col("turn_idx").cast("string"),
            ),
        ),
        RuleDef(
            "role_valid", "role in vocabulary", Severity.ERROR,
            lambda df, s: (
                F.col("role").isNotNull() & F.col("role").isin(TRANSCRIPT_ROLES),
                F.col("role"),
            ),
        ),
        RuleDef(
            "text_non_empty", "text non-empty", Severity.ERROR,
            lambda df, s: (
                F.col("text").isNotNull() & ~T.py_blank(F.col("text")),
                head(),
            ),
        ),
        RuleDef(
            "text_length_bounds", "text length bounds", Severity.WARNING,
            lambda df, s: (
                F.col("text").isNull()
                | F.length("text").between(s.min_length, s.max_length),
                F.length("text").cast("string"),
            ),
        ),
        RuleDef(
            "pii_detection", "PII in text", Severity.WARNING,
            lambda df, s: (T.pii_clean(F.col("text")), head()),
        ),
        RuleDef(
            "garbled_text", "garbled text", Severity.WARNING,
            lambda df, s: (T.garbled_clean(F.col("text")), head()),
        ),
        RuleDef(
            "repetitive_text", "repetitive text", Severity.WARNING,
            lambda df, s: (T.repetitive_clean(F.col("text")), head()),
        ),
    ]


def get_transcript_rule_suite(include_repetitive: bool = True) -> RuleSet:
    rs = RuleSet("transcripts", load_builtins=False)
    for rd in transcript_rule_defs():
        rs.add_rule(rd)
    rs.enable_rule("repetitive_text", include_repetitive)
    return rs


@dataclass
class TranscriptCheckReport:
    total_turns: int = 0
    passed_turns: int = 0
    failed_turns: int = 0
    pass_rate: float = 0.0
    error_count: int = 0
    warning_count: int = 0
    rule_results: Dict[str, Dict[str, Any]] = dc_field(default_factory=dict)
    duplicate_keys: int = 0
    orphan_tools: int = 0
    anomaly_count: int = 0
    anomalies: Dict[str, Any] = dc_field(default_factory=dict)


class TranscriptChecker:
    """End-to-end transcript validation over an uncached columnar source:
    (a) the fused rule projection + summary agg,
    (b) uniqueness on (conv_id, turn_idx),
    (c) the orphan-tool check, a conditional sum over the tool
        vocabulary folded into (a),
    (d) text-length anomaly detection.

    Only (a) reads the rule columns, so Catalyst prunes the rule pass
    from (b) and (d): each scans just its own columns, and no cache
    build job runs. Each consumer is a single shuffle (or none).
    """

    # the turn key: violation rows, duplicate keys and the incremental
    # store's row identity
    key_cols = ("conv_id", "turn_idx")

    def __init__(
        self,
        schema: Optional[ValidationSchema] = None,
        tool_vocab: Optional[Sequence[str]] = None,
        include_repetitive: bool = True,
    ):
        self.engine = ValidationEngine(
            ruleset=get_transcript_rule_suite(include_repetitive),
            schema=schema or ValidationSchema(),
        )
        self.tool_vocab = list(tool_vocab or TOOL_VOCAB)

    def annotated(self, df: DataFrame) -> DataFrame:
        return self.engine.annotate(df)

    def violations(self, df: DataFrame, ordered: bool = True) -> DataFrame:
        """(conv_id, turn_idx, rule_id, observed) under stable turn
        ordering — the exact violation-row contract. ``ordered=False``
        for order-insensitive stores (see ``engine.violations``)."""
        return self.engine.violations(
            df, key_cols=list(self.key_cols), ordered=ordered
        )

    def run(
        self, df: DataFrame, detect_anomalies: bool = True
    ) -> TranscriptCheckReport:
        from datacheck_spark import anomaly as A
        from datacheck_spark import dedup as D

        rules = self.engine.compile(df)
        # no cache: only the summary reads the rule columns, so the
        # duplicate-key and anomaly passes plan their own pruned scans
        # of (conv_id, turn_idx) and (text, turn_idx)
        annotated = self.engine.annotate(df, rules=rules).withColumn(
            "__text_len", F.length("text").cast("double")
        )
        # the orphan-tool check broadcasts a tiny vocabulary, so it
        # folds into the SAME summary aggregation as a conditional
        # sum — no separate join job
        orphan_expr = F.sum(
            (
                F.col("tool").isNotNull()
                & ~F.col("tool").isin(self.tool_vocab)
            ).cast("long")
        )
        base = self.engine.summarize(
            annotated,
            rules,
            id_col=None,
            collect_failed_ids=False,
            extra_aggs={"orphan_tools": orphan_expr},
        )
        report = TranscriptCheckReport(
            total_turns=base.total_samples,
            passed_turns=base.passed_samples,
            failed_turns=base.failed_samples,
            pass_rate=base.pass_rate,
            error_count=base.error_count,
            warning_count=base.warning_count,
            rule_results=base.rule_results,
            orphan_tools=int(base.extras.get("orphan_tools") or 0),
        )
        if base.total_samples == 0:
            return report

        report.duplicate_keys = (
            D.duplicate_key_rows(annotated, list(self.key_cols))
            .agg(F.sum("dup_count"))
            .collect()[0][0]
            or 0
        )

        if detect_anomalies:
            raw = A.detect_anomalies(
                annotated,
                cols=["__text_len", "turn_idx"],
                total=base.total_samples,
            )
            # present the precomputed length under the reference's
            # field key / field_type (anomaly.py:130-132)
            if "__text_len" in raw:
                entry = raw.pop("__text_len")
                entry["field_type"] = "length"
                raw["text (长度)"] = entry
            report.anomalies = raw
            report.anomaly_count = sum(
                a["outlier_count"] for a in report.anomalies.values()
            )
        return report
